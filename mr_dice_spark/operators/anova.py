"""Classic k-sample distribution tests over grouped metric columns:
one-way ANOVA (with eta-squared), Brown-Forsythe and Bartlett variance
homogeneity, the Jarque-Bera normality screen, Kendall's tau-b and
Somers' D on contingency cells, the Cochran-Armitage trend test,
Kruskal-Wallis H with Dunn's post-hoc pairs, Mood's median test, the
Grubbs max-deviate outlier screen, the Jonckheere-Terpstra
ordered-alternative trend test and Conover's squared-ranks scale test.

Beyond-reference operators (nearest analogue: nothing — SURVEY.md §2 has
no hypothesis-test surface): the drift/experimentation families already
answer "did the rate move" (two_proportion_z, srm_check) and "did the
distribution move" (psi/ks/jsd); this module answers the pre-test and
k-sample questions an analyst asks FIRST — do the groups differ at all
(ANOVA/Kruskal/Dunn/Mood), in the hypothesized ORDER (Cochran-Armitage,
Jonckheere-Terpstra), is the equal-variance assumption tenable
(Brown-Forsythe, Bartlett, Conover), is normality defensible
(Jarque-Bera, Grubbs).

Cross-engine determinism: the moment tests are closed-form arithmetic
over per-group power sums (count, Σx, Σx², Σx³, Σx⁴) stated in the SAME
expression shape on both engines; the only interim estimate that feeds
back into row-level arithmetic (the Brown-Forsythe group median) is
quantized (nudge-round 6) before use — the operators/robust.py rule.
The rank tests keep doubled midranks as exact longs
(:func:`~mr_dice_spark.operators.ranks.rank_cells` for Dunn).

Scale shape: the moment tests are one hash aggregate on the group key
then a single-row (or per-group) reduce; Brown-Forsythe adds one
broadcast of the group-median dimension (one row per group) back onto
the rows. Windows appear only where a test needs ranks or per-group
order: key-partitioned windows in ``grubbs_max_deviate``,
``moods_median_test``, ``jonckheere_terpstra``, ``dunn_posthoc`` and
``conover_squared_ranks``, and the range-partitioned ``prefix_sums``
in ``kruskal_wallis_by_group``. No Python, no second scan of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mr_dice_spark.operators.ranks import rank_cells


def _power_sums(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    v = F.col(value_col).cast("double")
    return (
        df.where(v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum(v).alias("__s1"),
            F.sum(v * v).alias("__s2"),
        )
    )


def oneway_anova(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One-way ANOVA of ``value_col`` across ``group_col`` levels: F
    statistic plus eta-squared (the share of total variance the grouping
    explains — the effect size the F alone hides at large n, where a
    0.1%-of-variance effect is still wildly 'significant').

    ``SSB = Σ s_g²/n_g − S²/N``, ``SSW = Σ s_g² − Σ s_g²/n_g`` from
    per-group (n, Σx, Σx²); F = (SSB/(k−1)) / (SSW/(N−k)). Only RATIOS
    are emitted (raw sums of squares cancel catastrophically in the last
    ulps and would flake a fixed-decimal compare; the ratios carry the
    relative error, ~1e-9, well inside the rounding). Returns one row
    ``(k, n, f_stat, eta_sq)``; F is NULL when k < 2 or every group is
    constant (SSW = 0 with N > k still yields a finite huge F only when
    SSB > 0 — a 0/0 returns NULL, fail-closed).
    """
    g = _power_sums(df, group_col, value_col)
    t = g.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__nn"),
        F.sum("__s1").alias("__s"),
        F.sum(F.col("__s1") * F.col("__s1") / F.col("__n")).alias("__sbr"),
        F.sum("__s2").alias("__sst"),
    )
    k, n = F.col("__k").cast("double"), F.col("__nn")
    ssb = F.col("__sbr") - F.col("__s") * F.col("__s") / n
    ssw = F.col("__sst") - F.col("__sbr")
    sstot = F.col("__sst") - F.col("__s") * F.col("__s") / n
    f_stat = F.when(
        (k > 1) & (n > k),
        F.try_divide(ssb / (k - 1), ssw / (n - k)),
    )
    return t.select(
        F.col("__k").cast("long").alias("k"),
        n.cast("long").alias("n"),
        F.round(f_stat + F.lit(1e-9), 4).alias("f_stat"),
        F.round(F.try_divide(ssb, sstot) + F.lit(1e-9), 6).alias("eta_sq"),
    )


def brown_forsythe(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Brown-Forsythe test for equal group variances: one-way ANOVA on
    ``z = |x − median_g|`` — the median-centered Levene variant that
    stays honest under skew (mean-centered Levene inflates under
    heavy tails; this is the variant scipy defaults to for that
    reason). A large F here says pooled-variance methods (classic t,
    classic ANOVA read at face value) are built on sand for this column.

    The per-group median is an exact percentile, QUANTIZED (nudge-round
    6) before the |x − med| transform so both engines branch on the
    same pinned constant (the operators/robust.py rule), then broadcast
    back — rows shuffle zero times beyond the power-sum aggregate.
    Returns one row ``(k, n, f_stat)`` with the same NULL contract as
    :func:`oneway_anova`.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(group_col).alias("__bg"), v.alias("__v")
    )
    med = base.groupBy("__bg").agg(
        F.round(F.percentile("__v", 0.5) + F.lit(1e-9), 6).alias("__med")
    )
    z = base.join(F.broadcast(med), "__bg").select(
        "__bg", F.abs(F.col("__v") - F.col("__med")).alias("__z")
    )
    return oneway_anova(z, "__bg", "__z").select("k", "n", "f_stat")


def jarque_bera_by_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group Jarque-Bera normality statistic with its ingredients:
    skewness, excess kurtosis, and ``jb = n/6 · (S² + K²/4)`` — the
    'is a normality-assuming method defensible here' screen (JB beyond
    ~6 rejects at the 5% level asymptotically).

    Central moments are derived from raw power sums (n, Σx, Σx², Σx³,
    Σx⁴) in the textbook expansion, written in the SAME association
    order in the SQL oracle so the two engines differ only by
    accumulation order of the sums (~1e-16 relative). Population
    (biased) moments — the classic JB convention. Groups with zero
    variance return NULL skew/kurtosis/jb. One hash aggregate, one
    projection. Returns ``(group, n, skewness, ex_kurtosis, jb)``.
    """
    v = F.col(value_col).cast("double")
    g = (
        df.where(v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.avg(v).alias("__mu"),
            F.sum(v * v).alias("__p2"),
            F.sum(v * v * v).alias("__p3"),
            F.sum(v * v * v * v).alias("__p4"),
        )
    )
    n, mu = F.col("__n"), F.col("__mu")
    e2 = F.col("__p2") / n
    e3 = F.col("__p3") / n
    e4 = F.col("__p4") / n
    m2 = e2 - mu * mu
    m3 = e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu
    m4 = e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2 - 3.0 * mu * mu * mu * mu
    # m2^1.5 as m2*sqrt(m2): sqrt and multiply are correctly-rounded IEEE
    # ops on both engines, unlike libm pow (a 1-ulp cross-libm surface)
    skew = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    exk = F.when(m2 > 0, m4 / (m2 * m2) - 3.0)
    jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    return g.select(
        F.col("__g").alias(group_col),
        n.cast("long").alias("n"),
        F.round(skew + F.lit(1e-9), 6).alias("skewness"),
        F.round(exk + F.lit(1e-9), 6).alias("ex_kurtosis"),
        F.round(jb + F.lit(1e-9), 4).alias("jb"),
    )


def kendall_tau_b_cells(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Kendall's tau-b rank correlation between two ORDINAL columns via
    their contingency cells — the monotone-association readout that,
    unlike Pearson/Spearman on raw rows, is exact under heavy ties
    (banded/bucketed columns are nothing but ties).

    Concordant/discordant pair counts come from a cells x cells join
    restricted to ``a.x < b.x`` — work is (|X|·|Y|)² cell PAIRS, bounded
    by the band cardinalities and independent of row count (the rbo k×k
    convention: a deliberate bounded non-equi join over a pinned tiny
    relation, not a row-level cartesian). C, D and the tie terms are
    exact integers all the way; tau_b is the only float:
    ``tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))`` with
    ``n0 = n(n-1)/2``, ``n1/n2`` the x/y marginal tie counts.

    The cell table is localCheckpoint-pinned: FOUR frames derive from it
    (both pair-join sides, the x marginals, the y marginals) and without
    the pin each branch would re-plan the corpus scan. Returns one row
    ``(n, concordant, discordant, n1_ties_x, n2_ties_y, tau_b)``; tau_b
    is NULL when either column is constant (zero denominator).
    """
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(b, F.col("a.__x") < F.col("b.__x")).select(
        (F.col("a.__c") * F.col("b.__c")).alias("__p"),
        F.when(F.col("b.__y") > F.col("a.__y"), F.lit(1))
        .when(F.col("b.__y") < F.col("a.__y"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("__sgn"),
    )
    cd = pairs.agg(
        F.sum(F.when(F.col("__sgn") == 1, F.col("__p")).otherwise(F.lit(0))).alias(
            "__cc"
        ),
        F.sum(F.when(F.col("__sgn") == -1, F.col("__p")).otherwise(F.lit(0))).alias(
            "__dd"
        ),
    )
    tx = (
        cells.groupBy("__x")
        .agg(F.sum("__c").alias("__r"))
        .agg(
            F.sum("__r").alias("__n"),
            F.sum(F.col("__r") * (F.col("__r") - 1)).alias("__t1x2"),
        )
    )
    ty = (
        cells.groupBy("__y")
        .agg(F.sum("__c").alias("__cn"))
        .agg(F.sum(F.col("__cn") * (F.col("__cn") - 1)).alias("__t2x2"))
    )
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("__n").cast("double")
    n0x2 = n * (n - 1)  # 2*n0 — keep everything doubled, exact integers
    den = F.sqrt((n0x2 - F.col("__t1x2")) * (n0x2 - F.col("__t2x2"))) / 2.0
    tau = F.try_divide(
        F.col("__cc").cast("double") - F.col("__dd").cast("double"), den
    )
    return j.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__cc").cast("long").alias("concordant"),
        F.col("__dd").cast("long").alias("discordant"),
        (F.col("__t1x2") / 2).cast("long").alias("n1_ties_x"),
        (F.col("__t2x2") / 2).cast("long").alias("n2_ties_y"),
        F.round(tau + F.lit(1e-9), 6).alias("tau_b"),
    )


def cochran_armitage_trend(
    df: DataFrame, dose_col: str, label_col: str
) -> DataFrame:
    """Cochran-Armitage trend test: does a binary outcome rate move
    MONOTONICALLY with an ordered exposure (``dose_col``, numeric
    scores)? The chi-square independence test answers 'any association';
    this answers the sharper dose-response question a leveled exposure
    (spend band, weekday index, model version) actually poses.

    ``z = Σ w_i (r_i − n_i p̄) / sqrt( p̄(1−p̄) [Σ w_i² n_i − (Σ w_i
    n_i)²/N] )`` from per-dose (n_i, r_i) — one hash aggregate on the
    dose then a 1-row reduce; integer counts until the final ratio.
    Positive z = rate rises with dose. Returns one row ``(k, n, n_pos,
    z_trend, chi2_trend)``; NULL fail-closed when the outcome or the
    dose is constant (zero variance either way).
    """
    w = F.col(dose_col).cast("double")
    y = F.col(label_col).cast("boolean")
    per = (
        df.where(w.isNotNull() & y.isNotNull())
        .groupBy(w.alias("__w"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum(F.when(y, 1.0).otherwise(0.0)).alias("__r"),
        )
    )
    t = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__nn"),
        F.sum("__r").alias("__rr"),
        F.sum(F.col("__w") * F.col("__r")).alias("__wr"),
        F.sum(F.col("__w") * F.col("__n")).alias("__wn"),
        F.sum(F.col("__w") * F.col("__w") * F.col("__n")).alias("__wwn"),
    )
    nn, rr = F.col("__nn"), F.col("__rr")
    pbar = rr / nn
    num = F.col("__wr") - pbar * F.col("__wn")
    var = pbar * (1.0 - pbar) * (
        F.col("__wwn") - F.col("__wn") * F.col("__wn") / nn
    )
    z = F.when(var > 0, num / F.sqrt(var))
    return t.select(
        F.col("__k").cast("long").alias("k"),
        nn.cast("long").alias("n"),
        rr.cast("long").alias("n_pos"),
        F.round(z + F.lit(1e-9), 6).alias("z_trend"),
        F.round(z * z + F.lit(1e-9), 4).alias("chi2_trend"),
    )


def kruskal_wallis_by_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal-Wallis H: the rank-based (distribution-free) one-way
    ANOVA — do k groups share one value distribution? The k-group
    extension of :func:`~mr_dice_spark.operators.evaluation.
    mann_whitney_u_by_group`'s two-sample question, and the honest
    alternative to :func:`oneway_anova` on the heavy-tailed metrics
    pipelines actually carry (value columns with outliers where mean
    differences are noise but rank shifts are real).

    Ranks are GLOBAL average ranks (midranks) under ties, derived
    without any single-partition window: the (value, group) tie-cell
    table reduces to per-value tie sizes, whose cumulative counts come
    from :func:`~mr_dice_spark.operators.scale.prefix_sums` (the
    two-pass range-partitioned prefix sum), so ``2*midrank(v) =
    2*c_lt(v) + t_v + 1`` stays integer-exact and distributed. Then
    ``H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1)`` with the standard
    tie correction ``C = 1 - sum(t^3 - t)/(N^3 - N)`` and
    ``H_c = H / C``. All pair-free: one tie-cell aggregate, one prefix
    pass over distinct values, one equi-join back, two tiny reduces.

    Doubled-rank sums are computed in doubles (exact integers below
    2^53 — the ANSI long-product rule; exact up to ~6.7e7 rows, far
    past any per-group test's useful n). The cell table is
    localCheckpoint-pinned: the per-value branch and the join-back
    branch would otherwise each re-plan the corpus scan. Returns one
    row ``(k, n, h, tie_correction, h_corrected)``; ``h_corrected`` is
    NULL when every value is tied (C = 0 — no ranking information,
    fail-closed)."""
    from mr_dice_spark.operators.scale import prefix_sums

    v = F.col(value_col).cast("double")
    cells = (
        df.where(F.col(group_col).isNotNull() & v.isNotNull())
        .groupBy(v.alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    vt = cells.groupBy("__v").agg(F.sum("__c").alias("__t"))
    vr = prefix_sums(vt, "__v", ["__t"]).select(
        "__v", "__t", (F.col("__t_cum") - F.col("__t")).alias("__clt")
    )
    # tie totals read the prefix frame (its lineage is checkpoint-pinned
    # inside prefix_sums), not a fresh vt branch
    tot = vr.agg(
        F.sum("__t").alias("__nn"),
        F.sum(
            F.col("__t").cast("double")
            * (F.col("__t") - 1)
            * (F.col("__t") + 1)
        ).alias("__tie3"),
    )
    gr = (
        cells.join(vr, "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__ng"),
            F.sum(
                F.col("__c").cast("double")
                * (2 * F.col("__clt") + F.col("__t") + 1).cast("double")
            ).alias("__r2"),  # 2*R_g, integer-exact in doubles
        )
    )
    s = gr.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(
            F.col("__r2") * F.col("__r2") / (4.0 * F.col("__ng").cast("double"))
        ).alias("__s"),
    )
    j = s.crossJoin(F.broadcast(tot))
    nd = F.col("__nn").cast("double")
    h = 12.0 * F.col("__s") / (nd * (nd + 1)) - 3.0 * (nd + 1)
    tie_c = 1.0 - F.col("__tie3") / (nd * (nd - 1) * (nd + 1))
    h_adj = F.when(tie_c > 0, h / tie_c)
    return j.select(
        F.col("__k").cast("long").alias("k"),
        F.col("__nn").cast("long").alias("n"),
        F.round(h + F.lit(1e-9), 4).alias("h"),
        F.round(tie_c + F.lit(1e-9), 6).alias("tie_correction"),
        F.round(h_adj + F.lit(1e-9), 4).alias("h_corrected"),
    )


def grubbs_max_deviate(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Grubbs statistic — the single-outlier screen the
    z-score family runs FIRST: ``G = max_i |x_i - mean| / sd`` (sample
    sd, n-1 denominator) plus the value achieving it. G compared
    against the t-based critical value answers 'is the most extreme
    point plausible under normality'; this operator reports the
    statistic and the suspect (the decision threshold depends on the
    caller's alpha and is one scalar lookup away — no t-inverse exists
    JVM-side, and shipping an approximation would fake precision the
    test doesn't have).

    Distinct from :func:`mr_dice_spark.operators.robust.
    mad_outlier_flags` (median/MAD flags EVERY point, robustly) —
    Grubbs is the normality-assuming, max-deviate form review
    checklists ask for by name.

    NULL group/value rows are excluded. Groups with n < 3 (Grubbs is
    undefined) or zero variance report NULL ``mean``, ``sd``,
    ``outlier_value`` and ``grubbs_g`` — all-or-nothing fail-closed,
    so a NULL statistic can never ride next to a reported moment that
    LOOKS testable. Ties in |deviation| (two values
    symmetric about the mean) break toward the SMALLER value —
    deterministic cross-engine.

    Cross-engine determinism: power sums are exact decimals and the
    variance numerator ``n*s2 - s1^2`` is formed in exact decimal
    before any cast to double (the durbin_watson convention; contract:
    values on a <= 6dp grid, |v| < 1e5, n < 1e6 per
    group); mean and sd pin at 9dp; each z is one fixed IEEE
    chain on pinned operands, pinned at 9dp before the rank; outputs
    round at 6.

    Scale shape: power sums ride an unordered window over the SAME key
    partitioning the rank window needs — scan -> shuffle(group) ->
    windows -> one closing filter, NO join-back (the ols_influence
    discipline). Returns ``(group, n, mean, sd, outlier_value,
    grubbs_g)``.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
    # decimal cancellation (the durbin_watson convention): the variance
    # numerator n*s2 - s1^2 is formed in exact decimal — casting s1/s2
    # to double first lets DuckDB's 1-ulp-off DECIMAL->DOUBLE cast be
    # amplified by the cancellation into the 9dp pins. Compact-cast
    # headroom (>= 10x): |v| < 1e5 on a <= 6dp grid, n < 1e6 per group.
    vd = F.col("__v").cast("decimal(16,6)")
    w_all = Window.partitionBy("__g")
    n_w = F.count(F.lit(1)).over(w_all)
    s1_dec = F.sum(vd).over(w_all).cast("decimal(18,6)")
    s2_dec = F.sum(vd * vd).over(w_all).cast("decimal(31,12)")
    vn_dec = (n_w.cast("decimal(6,0)") * s2_dec).cast("decimal(37,12)") - (
        s1_dec * s1_dec
    ).cast("decimal(37,12)")
    staged = base.select(
        "__g",
        "__v",
        n_w.alias("__n"),
        s1_dec.cast("double").alias("__s1"),
        vn_dec.cast("double").alias("__vn"),
    )
    n_d = F.col("__n").cast("double")
    mean = F.round(F.col("__s1") / n_d + F.lit(1e-12), 9)
    var = F.round(
        F.col("__vn") / (n_d * (n_d - 1.0)) + F.lit(1e-12),
        9,
    )
    sd = F.round(F.sqrt(var) + F.lit(1e-12), 9)
    z = F.when(
        (F.col("__n") >= 3) & (var > 0),
        F.round(F.abs(F.col("__v") - mean) / sd + F.lit(1e-12), 9),
    )
    scored = staged.select(
        "__g",
        "__v",
        "__n",
        mean.alias("__m"),
        sd.alias("__sd"),
        z.alias("__z"),
    )
    w_rank = Window.partitionBy("__g").orderBy(
        F.desc("__z"), F.col("__v").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") == 1)
        .select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("long").alias("n"),
            F.round(
                F.when(F.col("__z").isNotNull(), F.col("__m")) + F.lit(1e-9), 6
            ).alias("mean"),
            F.round(
                F.when(F.col("__z").isNotNull(), F.col("__sd")) + F.lit(1e-9), 6
            ).alias("sd"),
            F.when(F.col("__z").isNotNull(), F.col("__v")).alias(
                "outlier_value"
            ),
            F.round(F.col("__z") + F.lit(1e-9), 6).alias("grubbs_g"),
        )
    )


def bartlett_by_key(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Bartlett test for equal variances across the key's
    groups — the classic (normality-assuming) variance-homogeneity
    screen beside the robust :func:`brown_forsythe`: with sample
    variances s_i^2 over the k groups holding n_i >= 2 observations,
    N = sum n_i, pooled s_p^2 = sum (n_i - 1) s_i^2 / (N - k),

        chi2 = [ (N-k) ln(s_p^2) - sum_i (n_i - 1) ln(s_i^2) ] / C
        C    = 1 + ( sum_i 1/(n_i - 1) - 1/(N-k) ) / (3 (k-1))

    chi2 ~ chi-square(k-1) under equal variances. Bartlett is MORE
    powerful than Brown-Forsythe when the data really are near-normal
    (the textbook pre-test before pooled-variance ANOVA) and
    notoriously sensitive when they are not — reporting both is the
    honest pair, which is why this lands beside it.

    Groups with n_i < 2 carry no variance and are EXCLUDED from the
    statistic (k counts only usable groups). NULL key/group/value rows
    are excluded. Keys with k < 2 usable groups, any usable group with
    zero (pinned) variance — ln is undefined there — or N = k report
    NULL chi2 (fail-closed); counts still report.

    Cross-engine determinism: per-group variance numerators
    ``n_i*s2 - s1^2`` are formed in exact decimal (the durbin_watson
    cancellation convention; contract: values on a <= 6dp grid,
    |v| < 1e5, n_i < 1e6) and s_i^2 pins at 9dp; each ln(s_i^2) pins
    at 9dp (the hurst_rs libm-parity rule); the three per-key sums
    ((n_i-1)*s_i^2, (n_i-1)*ln(s_i^2), 1/(n_i-1)) add 9dp-pinned terms
    as exact decimal(19,9); the closing chain is fixed IEEE on pinned
    operands, rounded at 6.

    Scale shape: one (key, group) hash aggregate with map-side
    combine, one per-key reduce — no window, no join, no Python (the
    moods_median_test cell discipline: groups bound the state, not the
    corpus). Returns ``(key, n, k_groups, chi2, dof)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    vd = F.col("__v").cast("decimal(16,6)")
    cells = base.groupBy("__k", "__g").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(vd).cast("decimal(18,6)").alias("__s1d"),
        F.sum(vd * vd).cast("decimal(31,12)").alias("__s2d"),
    )
    vn = (
        (F.col("__n").cast("decimal(6,0)") * F.col("__s2d")).cast(
            "decimal(37,12)"
        )
        - (F.col("__s1d") * F.col("__s1d")).cast("decimal(37,12)")
    ).cast("double")
    n_d = F.col("__n").cast("double")
    s2 = F.round(vn / (n_d * (n_d - 1.0)) + F.lit(1e-12), 9)
    usable = F.col("__n") >= 2
    scored = cells.select(
        "__k",
        "__n",
        usable.alias("__u"),
        F.when(usable, s2).alias("__s2"),
        F.when(usable & (s2 > 0), F.round(F.log(s2) + F.lit(1e-12), 9))
        .alias("__ln"),
        F.when(usable, F.round(s2 * (n_d - 1.0) + F.lit(1e-12), 9))
        .alias("__w"),
        F.when(
            usable, F.round(1.0 / (n_d - 1.0) + F.lit(1e-12), 9)
        ).alias("__inv"),
    )
    lnw = F.round(
        F.col("__ln") * (F.col("__n").cast("double") - 1.0) + F.lit(1e-12), 9
    )
    agg = scored.groupBy("__k").agg(
        F.sum(F.when(F.col("__u"), F.col("__n"))).alias("__nn"),
        F.count_if(F.col("__u")).alias("__kk"),
        F.count_if(F.col("__u") & F.col("__ln").isNull()).alias("__bad"),
        F.sum(F.when(F.col("__u"), F.col("__w")).cast("decimal(19,9)"))
        .cast("double")
        .alias("__sw"),
        F.sum(F.when(F.col("__u"), lnw).cast("decimal(19,9)"))
        .cast("double")
        .alias("__sln"),
        F.sum(F.when(F.col("__u"), F.col("__inv")).cast("decimal(19,9)"))
        .cast("double")
        .alias("__sinv"),
    )
    nn = F.col("__nn").cast("double")
    kk = F.col("__kk").cast("double")
    sp2 = F.round(F.col("__sw") / (nn - kk) + F.lit(1e-12), 9)
    lnp = F.round(F.log(sp2) + F.lit(1e-12), 9)
    c = 1.0 + (F.col("__sinv") - 1.0 / (nn - kk)) / (3.0 * (kk - 1.0))
    chi2 = F.when(
        (F.col("__kk") >= 2)
        & (F.col("__bad") == 0)
        & (F.col("__nn") > F.col("__kk"))
        & (sp2 > 0),
        ((nn - kk) * lnp - F.col("__sln")) / c,
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.coalesce(F.col("__nn"), F.lit(0)).cast("long").alias("n"),
        F.col("__kk").cast("long").alias("k_groups"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
        F.when(F.col("__kk") >= 2, F.col("__kk") - 1)
        .cast("long")
        .alias("dof"),
    )


def moods_median_test(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Mood's median test — the coarsest, most
    assumption-free k-sample location screen: split every observation
    at the key's POOLED median (lower-median convention), cross-count
    ``above / at-or-below`` per group, and report the Pearson chi2 of
    the resulting 2 x k table (``dof = k - 1``). Where
    :func:`kruskal_wallis_by_group` uses full rank information (more
    power, more tie machinery), Mood's test survives arbitrary
    monotone transforms and gross outliers — the robustness end of the
    family.

    NULL key/group/value rows are excluded. Keys where every
    observation equals the pooled median (no 'above' mass — the
    degenerate split) or with a single group report NULL chi2
    (fail-closed); counts still report.

    Cross-engine determinism: the pooled median is an exact
    integer-comparison pick from cumulative cell counts (``2*ccnt >=
    N + N%2`` selects the lower median — no interpolation,
    engine-proof); the 2 x k table is exact integers; per-group chi2
    terms are fixed IEEE chains on exact counts, pinned at 9dp, summed
    as exact decimal(19,9); output rounds at 6.

    Scale shape: one (key, group, value) cell aggregate bounds the
    state, a RANGE cumulative window + whole-partition windows on the
    key exchange pick the median, one (key, group) aggregate and one
    per-key reduce close — no join, no global sort. Returns ``(key,
    n, n_groups, grand_median, chi2, dof)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    cells = base.groupBy("__k", "__g", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    # RANGE frame: the cumulative count at v must include ALL rows with
    # value <= v across groups (several (g, v) cells share one v)
    w_range = (
        Window.partitionBy("__k")
        .orderBy("__v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_key = Window.partitionBy("__k")
    staged = cells.select(
        "__k",
        "__g",
        "__v",
        "__c",
        F.sum("__c").over(w_range).alias("__ccnt"),
        F.sum("__c").over(w_key).alias("__nn"),
    )
    # lower median: smallest v whose inclusive cumulative count reaches
    # ceil(N/2); 2*ccnt >= N + N%2 is the integer-only equivalent
    med_cond = (F.col("__ccnt") * 2) >= (F.col("__nn") + F.col("__nn") % 2)
    staged = staged.withColumn(
        "__med", F.min(F.when(med_cond, F.col("__v"))).over(w_key)
    )
    per_group = staged.groupBy("__k", "__g").agg(
        F.max("__nn").alias("__nn"),
        F.max("__med").alias("__med"),
        F.sum(F.when(F.col("__v") > F.col("__med"), F.col("__c")).otherwise(F.lit(0))).alias("__ab"),
        F.sum(F.when(F.col("__v") <= F.col("__med"), F.col("__c")).otherwise(F.lit(0))).alias("__le"),
    )
    w_k2 = Window.partitionBy("__k")
    margins = per_group.select(
        "__k",
        "__g",
        "__nn",
        "__med",
        "__ab",
        "__le",
        F.sum("__ab").over(w_k2).alias("__ca"),
        F.sum("__le").over(w_k2).alias("__cl"),
        F.count(F.lit(1)).over(w_k2).alias("__ng"),
    )
    rt = (F.col("__ab") + F.col("__le")).cast("double")
    n_d = F.col("__nn").cast("double")
    ea = rt * F.col("__ca").cast("double") / n_d
    el = rt * F.col("__cl").cast("double") / n_d
    oa = F.col("__ab").cast("double")
    ol = F.col("__le").cast("double")
    term = F.round(
        F.try_divide((oa - ea) * (oa - ea), ea)
        + F.try_divide((ol - el) * (ol - el), el)
        + F.lit(1e-12),
        9,
    )
    out = margins.groupBy("__k").agg(
        F.max("__nn").alias("__n"),
        F.max("__ng").alias("__ngr"),
        F.max("__med").alias("__gm"),
        F.min("__ca").alias("__tca"),
        F.min("__cl").alias("__tcl"),
        F.sum(term.cast("decimal(19,9)")).cast("double").alias("__chi2"),
    )
    ok = (
        (F.col("__ngr") >= 2) & (F.col("__tca") > 0) & (F.col("__tcl") > 0)
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.col("__ngr").cast("long").alias("n_groups"),
        F.col("__gm").alias("grand_median"),
        F.round(F.when(ok, F.col("__chi2")) + F.lit(1e-9), 6).alias("chi2"),
        F.when(ok, F.col("__ngr") - 1).cast("long").alias("dof"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Jonckheere-Terpstra test — the k-sample trend test for
    ORDERED groups that :func:`kruskal_wallis_by_group` (any
    difference) and :func:`cochran_armitage_trend` (binary outcome)
    bracket: does the value distribution shift monotonically as the
    group ordinal rises?

        JT = sum_{a < b} U_ab,   U_ab = #{x in a, y in b : x < y}
                                        + 0.5 #{x = y}

    with the Hollander-Wolfe tie-corrected null moments:

        E[JT]  = (N^2 - sum n_g^2) / 4
        Var    = [N(N-1)(2N+5) - sum_g n(n-1)(2n+5)
                  - sum_v t(t-1)(2t+5)] / 72
               + [sum_g n(n-1)(n-2)][sum_v t(t-1)(t-2)]
                 / (36 N(N-1)(N-2))
               + [sum_g n(n-1)][sum_v t(t-1)] / (8 N(N-1))
        z      = (JT - E) / sqrt(Var)

    (n_g group sizes, t_v pooled value-tie sizes per key). ``group_col``
    must be numeric-ordinal — its ORDER is the alternative being
    tested. NULL key/group/value rows are excluded. Keys with < 2
    groups or zero variance report NULL z (fail-closed); jt/e_jt still
    report where defined.

    Cross-engine determinism: U_ab stays HALF-INTEGER-EXACT via the
    doubled form ``2U = sum_v c_b(v) (2 cumstrict_a(v) + c_a(v))``
    (the mann_whitney doubled-rank discipline); every moment input is
    an exact integer; jt/e_jt/var_jt emit RAW (identical IEEE chains on
    exact operands are bit-equal, and at var's ~N^3/36 magnitude
    ROUND(double) itself diverges cross-engine — the round-11
    magnitude-cliff finding); z is one fixed IEEE chain, pinned at 9dp,
    rounded at 6. Integer headroom: N^3 must fit a long
    (N < 2e6 per key — far above any per-key series this is for).

    Scale shape: one (key, group, value) cell aggregate that EVERY
    downstream frame (pair dimension, group-size moments, tie-size
    moments) derives from, so ReuseExchange collapses the physical
    plan onto ONE corpus scan + one cell shuffle; the cell table joins
    the BROADCAST pair-membership dimension once by equi-hash (each
    cell replicated #groups-1 times, bounded), then per-(key, pair)
    cumulative windows and three per-key reduces meet on the key. No
    quadratic value join anywhere. Returns ``(key, n, n_groups, jt,
    e_jt, var_jt, z)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).cast("long").alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    cells = base.groupBy("__k", "__g", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    # EVERY downstream frame (pair dimension, group sizes, tie sizes)
    # derives from the SAME cells aggregate, so the physical plan's
    # ReuseExchange collapses all branches onto ONE corpus scan + one
    # (key, group, value) shuffle (asserted by the plan test)
    dg = cells.select("__k", "__g").distinct()
    pairs = (
        dg.alias("l")
        .join(
            dg.alias("r"),
            (F.col("l.__k") == F.col("r.__k"))
            & (F.col("l.__g") < F.col("r.__g")),
        )
        .select(
            F.col("l.__k").alias("__k"),
            F.col("l.__g").alias("__a"),
            F.col("r.__g").alias("__b"),
        )
    )
    member = pairs.select(
        "__k",
        "__a",
        "__b",
        F.explode(
            F.array(
                F.struct(F.col("__a").alias("g"), F.lit(1).alias("is_a")),
                F.struct(F.col("__b").alias("g"), F.lit(0).alias("is_a")),
            )
        ).alias("__m"),
    ).select(
        "__k", "__a", "__b", F.col("__m.g").alias("__g"), F.col("__m.is_a").alias("__ia")
    )
    tagged = cells.join(F.broadcast(member), ["__k", "__g"])
    pv = tagged.groupBy("__k", "__a", "__b", "__v").agg(
        F.sum(F.when(F.col("__ia") == 1, F.col("__c")).otherwise(F.lit(0))).alias("__ca"),
        F.sum(F.when(F.col("__ia") == 0, F.col("__c")).otherwise(F.lit(0))).alias("__cb"),
    )
    w_strict = (
        Window.partitionBy("__k", "__a", "__b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = pv.select(
        "__k",
        (
            F.col("__cb")
            * (
                2 * F.coalesce(F.sum("__ca").over(w_strict), F.lit(0))
                + F.col("__ca")
            )
        ).alias("__u2"),
    )
    jt2 = terms.groupBy("__k").agg(F.sum("__u2").alias("__jt2"))
    # per-key group-size moments (exact longs)
    gstats = (
        cells.groupBy("__k", "__g")
        .agg(F.sum("__c").alias("__n"))
        .groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("__ng"),
            F.sum("__n").alias("__nn"),
            F.sum(F.col("__n") * F.col("__n")).alias("__sn2"),
            F.sum(
                F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5)
            ).alias("__g25"),
            F.sum(F.col("__n") * (F.col("__n") - 1)).alias("__g11"),
            F.sum(
                F.col("__n") * (F.col("__n") - 1) * (F.col("__n") - 2)
            ).alias("__g12"),
        )
    )
    # per-key pooled value-tie moments (exact longs)
    tstats = (
        cells.groupBy("__k", "__v")
        .agg(F.sum("__c").alias("__t"))
        .groupBy("__k")
        .agg(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ).alias("__t25"),
            F.sum(F.col("__t") * (F.col("__t") - 1)).alias("__t11"),
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (F.col("__t") - 2)
            ).alias("__t12"),
        )
    )
    joined = gstats.join(jt2, "__k", "left").join(tstats, "__k")
    n_d = F.col("__nn").cast("double")
    jt = F.col("__jt2").cast("double") / 2.0
    e = (n_d * n_d - F.col("__sn2").cast("double")) / 4.0
    var = (
        (
            n_d * (n_d - 1.0) * (2.0 * n_d + 5.0)
            - F.col("__g25").cast("double")
            - F.col("__t25").cast("double")
        )
        / 72.0
        + F.try_divide(
            F.col("__g12").cast("double") * F.col("__t12").cast("double"),
            36.0 * n_d * (n_d - 1.0) * (n_d - 2.0),
        )
        + F.try_divide(
            F.col("__g11").cast("double") * F.col("__t11").cast("double"),
            8.0 * n_d * (n_d - 1.0),
        )
    )
    ok = (F.col("__ng") >= 2) & (var > 0)
    z = F.when(
        ok,
        F.round(
            (jt - e) / F.round(F.sqrt(var) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    return joined.select(
        F.col("__k").alias(key_col),
        F.col("__nn").cast("long").alias("n"),
        F.col("__ng").cast("long").alias("n_groups"),
        F.when(F.col("__ng") >= 2, jt).alias("jt"),
        # e_jt/var_jt emit RAW (the mood_scale round-11 convention):
        # e is an exact quarter-integer and var an identical IEEE chain
        # on exact sub-2^53 operands — bit-equal cross-engine — while
        # ROUND(double, 6) itself DIVERGES past |x| ~ 9e9 (var reads
        # ~2e11 at sf0.1, already over the cliff; caught by the
        # round-11 magnitude audit)
        F.when(F.col("__ng") >= 2, e).alias("e_jt"),
        F.when(ok, var).alias("var_jt"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def somers_d_cells(
    df: DataFrame, key_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-key Somers' D between two ORDINAL columns via their
    contingency cells — the ASYMMETRIC sibling of
    :func:`kendall_tau_b_cells`: tau-b ties the two margins
    symmetrically, while Somers' D conditions on ONE of them, so
    ``d_yx`` (y dependent) and ``d_xy`` answer different questions and
    their GAP is the finding (which direction the ordinal dependence
    actually runs — the gamma/uncertainty-coefficient reading on
    concordance counts).

        d_yx = (C - D) / (n0 - T_x),   n0 = n(n-1)/2,
        T_x  = sum_x n_x (n_x - 1) / 2      (x-margin tie pairs)

    and symmetrically ``d_xy`` with the y margin. Doubled throughout:
    ``d_yx = 2(C - D) / (n(n-1) - t1x2)`` keeps every operand an exact
    integer; each d is ONE IEEE division (bit-equal cross-engine),
    rounded at 6. A constant margin zeroes its denominator and
    fail-closes that direction to NULL (try_divide); the OTHER
    direction then reads 0 — all pairs tied on the constant column is
    real information, not an error.

    Scale shape: the kendall cells convention — work is cell-PAIRS per
    key (band-cardinality-bounded, row-count-independent), the cell
    table localCheckpoint-pinned because four frames branch from it
    (both pair-join sides, both margins). The pair join and the margin
    join-backs are all keyed equi-joins over cell-sized relations.
    Returns ``(key, n, concordant, discordant, n1_ties_x, n2_ties_y,
    d_yx, d_xy)``.
    """
    cells = (
        df.where(
            F.col(key_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .groupBy(
            F.col(key_col).alias("__k"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(
            b,
            (F.col("a.__k") == F.col("b.__k"))
            & (F.col("a.__x") < F.col("b.__x")),
        )
        .select(
            F.col("a.__k").alias("__k"),
            (F.col("a.__c") * F.col("b.__c")).alias("__p"),
            F.when(F.col("b.__y") > F.col("a.__y"), F.lit(1))
            .when(F.col("b.__y") < F.col("a.__y"), F.lit(-1))
            .otherwise(F.lit(0))
            .alias("__sgn"),
        )
        .groupBy("__k")
        .agg(
            F.sum(
                F.when(F.col("__sgn") == 1, F.col("__p")).otherwise(F.lit(0))
            ).alias("__cc"),
            F.sum(
                F.when(F.col("__sgn") == -1, F.col("__p")).otherwise(F.lit(0))
            ).alias("__dd"),
        )
    )
    tx = (
        cells.groupBy("__k", "__x")
        .agg(F.sum("__c").alias("__r"))
        .groupBy("__k")
        .agg(
            F.sum("__r").alias("__n"),
            F.sum(F.col("__r") * (F.col("__r") - 1)).alias("__t1x2"),
        )
    )
    ty = (
        cells.groupBy("__k", "__y")
        .agg(F.sum("__c").alias("__cn"))
        .groupBy("__k")
        .agg(F.sum(F.col("__cn") * (F.col("__cn") - 1)).alias("__t2x2"))
    )
    # tx carries every key (cells is non-empty per key by construction);
    # cd is empty for single-x-level keys, so left join + zero-fill
    j = tx.join(cd, "__k", "left").join(ty, "__k")
    cc = F.coalesce(F.col("__cc"), F.lit(0))
    dd = F.coalesce(F.col("__dd"), F.lit(0))
    num = (cc - dd).cast("double") * 2.0
    n_d = F.col("__n").cast("double")
    n0x2 = n_d * (n_d - 1)  # 2*n0, exact integer in doubles
    d_yx = F.try_divide(num, n0x2 - F.col("__t1x2").cast("double"))
    d_xy = F.try_divide(num, n0x2 - F.col("__t2x2").cast("double"))
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        cc.cast("long").alias("concordant"),
        dd.cast("long").alias("discordant"),
        (F.col("__t1x2") / 2).cast("long").alias("n1_ties_x"),
        (F.col("__t2x2") / 2).cast("long").alias("n2_ties_y"),
        F.round(d_yx + F.lit(1e-9), 6).alias("d_yx"),
        F.round(d_xy + F.lit(1e-9), 6).alias("d_xy"),
    )


def dunn_posthoc(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Dunn (1964) post-hoc pairwise rank comparisons — the
    follow-up :func:`kruskal_wallis_by_group` needs but cannot answer:
    KW says "SOME group differs"; Dunn says WHICH pairs, on the same
    pooled midranks, with the tie-corrected null variance

        z_ab = (Rbar_a - Rbar_b)
               / sqrt( [N(N+1)/12 - T/(12(N-1))] (1/n_a + 1/n_b) )

    where ``T = sum_v (t_v^3 - t_v)`` pools value-tie sizes per key.
    Pair p-value adjustment (Bonferroni/BH) composes downstream via
    :func:`~mr_dice_spark.operators.evaluation.benjamini_hochberg` —
    this operator reports the raw z per pair.

    Cross-engine determinism: doubled midranks from
    :func:`~mr_dice_spark.operators.ranks.rank_cells` over the per-value
    tie sizes keep every rank SUM an exact integer; N, n_g and T are exact longs; each mean rank and the
    variance are fixed IEEE chains on exact operands; sqrt pins at
    9dp, z pins at 9dp and rounds at 6. All-tied keys (T = N^3 - N,
    zero variance) fail-close z to NULL. Keys with < 2 groups emit NO
    pair rows — the output is the PAIR relation, not a per-key scalar
    (documented, unlike scalar stats' keep-the-key convention).

    Scale shape: one (key, group, value) cell aggregate; rank_cells'
    per-value tie sizes and their strict cumulative ride ONE
    HashPartitioning(key) exchange; one cell-sized equi-join back on (key, value); a per-
    (key, group) reduce to rank sums; then the PAIR self-join of the
    per-group frame — k^2-bounded rows per key (group counts, not row
    counts). No row-level join anywhere. Returns ``(key, g_a, g_b,
    n_a, n_b, mean_rank_a, mean_rank_b, z)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    cells = base.groupBy("__k", "__g", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    ).localCheckpoint(eager=True)
    vr = rank_cells(cells, ["__k"], "__v", t=F.sum("__c"))
    tie = vr.groupBy("__k").agg(
        F.sum(
            F.col("__t") * (F.col("__t") - 1) * (F.col("__t") + 1)
        ).alias("__tie3")
    )
    gr = (
        cells.join(vr, ["__k", "__v"])
        .groupBy("__k", "__g")
        .agg(
            F.sum("__c").alias("__ng"),
            F.sum(F.col("__c") * F.col("__r2")).alias("__r2"),  # 2*R_g
        )
    )
    tot = gr.groupBy("__k").agg(F.sum("__ng").alias("__nn"))
    a, b = gr.alias("a"), gr.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__k") == F.col("b.__k"))
        & (F.col("a.__g") < F.col("b.__g")),
    ).select(
        F.col("a.__k").alias("__k"),
        F.col("a.__g").alias("__ga"),
        F.col("b.__g").alias("__gb"),
        F.col("a.__ng").alias("__na"),
        F.col("b.__ng").alias("__nb"),
        F.col("a.__r2").alias("__r2a"),
        F.col("b.__r2").alias("__r2b"),
    )
    j = pairs.join(tot, "__k").join(tie, "__k")
    n_d = F.col("__nn").cast("double")
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    mra = F.col("__r2a").cast("double") / (2.0 * na)
    mrb = F.col("__r2b").cast("double") / (2.0 * nb)
    var = (
        n_d * (n_d + 1.0) / 12.0
        - F.col("__tie3").cast("double") / (12.0 * (n_d - 1.0))
    ) * (1.0 / na + 1.0 / nb)
    z = F.when(
        var > 0,
        F.round(
            (mra - mrb) / F.round(F.sqrt(var) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__ga").alias("g_a"),
        F.col("__gb").alias("g_b"),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.round(mra + F.lit(1e-9), 6).alias("mean_rank_a"),
        F.round(mrb + F.lit(1e-9), 6).alias("mean_rank_b"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def conover_squared_ranks(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Conover squared-ranks test — the k-sample SCALE
    question in rank form: do the groups differ in DISPERSION around
    their own centers? The rank-based row of the variance-test family
    beside :func:`bartlett_by_key` (normal-theory, outlier-fragile)
    and :func:`brown_forsythe` (median-centered ANOVA on |dev|), and
    the k-sample extension of the two-sample scale tests
    (:func:`~mr_dice_spark.operators.evaluation.ansari_bradley` /
    :func:`~mr_dice_spark.operators.evaluation.mood_scale_test`).

    With z_gj = |x_gj - mean_g|, pooled midranks r of z per key, and
    s = r^2:

        T = (N-1) [ sum_g S_g^2/n_g - G^2/N ] / [ Q - G^2/N ]

    where S_g = sum_j s_gj, G = sum s, Q = sum s^2 (~ chi2_{k-1}).

    Cross-engine determinism: group means pin at 9dp over decimal
    sums, deviations pin at 9dp (identical doubles -> identical
    ranks); QUADRUPLED squared ranks ``q = (2r)^2`` keep S_g/G exact
    longs and Q an exact decimal(38,0) (the mood_scale quartic
    convention; (18,0)x(18,0) products stay under Spark's 38 cap —
    the kpss width rule); the multiplied-through form
    ``T = (N-1)(N sum q-S_g^2/n_g - Gq^2)/(N Qq - Gq^2)`` cancels the
    /16, per-group terms pin at 9dp and sum as exact decimal(38,9),
    and BOTH cancelling subtractions happen IN DECIMAL with one cast
    of each compact difference to double (the durbin_watson
    cast-then-cancel fix class — a 1-ulp cast after cancellation is
    ~1e-16 relative, absorbed by the nudges). Integer headroom:
    ``4 N^3 < 3e14`` per key (N ~< 4e4 — bucketed series, not raw
    corpora; feed quantized values).

    All-tied keys (every z equal, zero rank variance) and keys with
    < 2 groups fail-close t_stat/dof to NULL, rows kept.

    Scale shape: one explicit key repartition that EVERY window rides
    (group means on (k, g) and ranks on (k) both satisfied by
    HashPartitioning(k) via the subset rule — sorts, not shuffles),
    then one per-(key, group) reduce, one per-key quartic reduce off
    the same exchange, and a group-count-sized join. No pair join, no
    row-level join-back. Returns ``(key, n, k_groups, t_stat, dof)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    rows = base.repartition("__k")
    w_kg = Window.partitionBy("__k", "__g")
    mean = F.round(
        F.sum(F.col("__v").cast("decimal(16,6)")).over(w_kg).cast("double")
        / F.count(F.lit(1)).over(w_kg).cast("double")
        + F.lit(1e-12),
        9,
    )
    dev = rows.select(
        "__k",
        "__g",
        F.abs(F.round(F.col("__v") - mean + F.lit(1e-12), 9)).alias("__z"),
    )
    w_rank = Window.partitionBy("__k").orderBy("__z")
    w_eq = Window.partitionBy("__k", "__z")
    ranked = dev.select(
        "__k",
        "__g",
        (
            (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_eq) - 1)
        ).alias("__r2"),
    ).select(
        "__k",
        "__g",
        (F.col("__r2") * F.col("__r2")).cast("long").alias("__q"),
    )
    gr = ranked.groupBy("__k", "__g").agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum("__q").alias("__sq"),
    )
    qq = ranked.groupBy("__k").agg(
        F.sum(
            F.col("__q").cast("decimal(18,0)")
            * F.col("__q").cast("decimal(18,0)")
        ).alias("__qq")  # exact decimal(38,0) quartic moment
    )
    tot = gr.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__kg"),
        F.sum("__ng").alias("__nn"),
        F.sum("__sq").alias("__gq"),
    )
    # per-group term N*Sq_g^2/n_g: fixed IEEE chain on exact-long
    # operands, pinned 9dp, summed as exact decimal(38,9) (order-
    # independent across groups)
    terms = (
        gr.join(tot.select("__k", "__nn"), "__k")
        .select(
            "__k",
            F.round(
                F.col("__nn").cast("double")
                * F.col("__sq").cast("double")
                * F.col("__sq").cast("double")
                / F.col("__ng").cast("double")
                + F.lit(1e-12),
                9,
            ).alias("__w"),
        )
        .groupBy("__k")
        .agg(F.sum(F.col("__w").cast("decimal(38,9)")).alias("__ws"))
    )
    j = tot.join(terms, "__k").join(qq, "__k")
    gq2 = (
        F.col("__gq").cast("decimal(18,0)")
        * F.col("__gq").cast("decimal(18,0)")
    )  # exact decimal(37,0)
    # BOTH cancelling differences in exact decimal; one cast each
    num = (
        F.col("__ws") - gq2.cast("decimal(38,9)")
    ).cast("double")
    den = (
        F.col("__nn").cast("decimal(8,0)") * F.col("__qq").cast("decimal(29,0)")
        - gq2.cast("decimal(38,0)")
    ).cast("double")
    n_d = F.col("__nn").cast("double")
    ok = (F.col("__kg") >= 2) & (den > 0)
    t = F.when(
        ok,
        F.round((n_d - 1.0) * num / den + F.lit(1e-12), 9),
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__nn").cast("long").alias("n"),
        F.col("__kg").cast("long").alias("k_groups"),
        F.round(t + F.lit(1e-9), 6).alias("t_stat"),
        F.when(ok, F.col("__kg") - 1).cast("long").alias("dof"),
    )
