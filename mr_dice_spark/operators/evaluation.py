"""Model-evaluation aggregates over labeled corpora: AUC, calibration,
inter-rater agreement.

Beyond-reference operators (nearest analogue: nothing — SURVEY.md §2 has
no evaluation surface): a training-data pipeline that scores documents
(quality classifiers, language ID, toxicity filters) needs to EVALUATE
those scorers against labels at corpus scale, and none of these
statistics exist as Spark builtins. Every operator is a relational plan
with no Python UDF; three representative shapes:

* ``auc_by_group`` — ROC-AUC as the Mann-Whitney rank-sum statistic with
  exact average-rank tie handling: one exchange per group key (the two
  rank windows and the tie-count window share the group partitioning),
  then one aggregate. Arithmetic stays in half-integers until the final
  division, so cross-engine parity is exact up to the output rounding.
* ``calibration_bins`` — reliability-diagram bins (count, mean score,
  observed positive rate, |gap|): one hash aggregate on the bin key.
* ``cohens_kappa`` — inter-rater agreement from the confusion marginals:
  two tiny aggregates, single-row output.

At 100 TB: AUC shuffles once on the group key (rank windows are the same
exchange); a single GLOBAL AUC over 10^11 rows would single-partition the
rank window — callers group by shard/day/lang and combine, which is also
the statistically honest shape (per-slice AUC, not one pooled curve).

Laziness contract: every operator here returns an unexecuted plan
EXCEPT these, which run Spark jobs at construction:

* ``kendalls_w``, ``friedman_test``, ``icc_two_way``, ``quade_test``
  and ``page_trend_test`` stage through ``_complete_panel``: it pins the
  panel cells (``localCheckpoint``) and runs one 1-row shape probe
  (``.first()``) — their statistics are undefined on ragged panels, and
  deferring the validation would mean silently computing a wrong
  number. ``fleiss_kappa`` pins its (unit, label) counts and probes the
  per-unit rating counts the same way. All six fail closed with a 1-row
  NULL frame on EMPTY input; only a genuinely malformed panel raises.
* ``srm_check`` collects a 1-row unknown-arm probe and raises on a hit.
* ``bradley_terry``, ``bcubed_scores``, ``adjusted_rand_index``,
  ``logrank_test``, ``randomization_test``, ``cronbach_alpha``,
  ``hodges_lehmann_shift``, ``krippendorff_alpha_nominal``,
  ``brier_decomposition``, ``benjamini_hochberg``, ``cochran_q`` (its
  cells through ``_panel_cells``) and ``stuart_maxwell_3`` pin a frame
  several branches derive from (or an iteration state) with
  ``localCheckpoint(eager=True)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mr_dice_spark.operators.ranks import rank_cells, two_sample_cells


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group ROC-AUC of ``score_col`` against boolean ``label_col``.

    Mann-Whitney formulation: ``AUC = (R_pos - n_pos(n_pos+1)/2) /
    (n_pos * n_neg)`` where ``R_pos`` sums the positives' average ranks
    (ties get the mean of their rank range — the exact mid-rank
    convention, computed as ``(min_rank + max_rank) / 2`` from an
    ascending and a descending rank over the SAME group partitioning, so
    the whole pass costs one exchange). Groups with no positives or no
    negatives return NULL auc rather than a fabricated 0.5.

    Returns ``(group, n_pos, n_neg, auc)``.
    """
    g, s, y = F.col("__g"), F.col("__s"), F.col("__y")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(label_col).cast("boolean").alias("__y"),
    ).where(s.isNotNull() & y.isNotNull())
    w_asc = Window.partitionBy("__g").orderBy(F.col("__s").asc())
    w_desc = Window.partitionBy("__g").orderBy(F.col("__s").desc())
    w_all = Window.partitionBy("__g")
    ranked = base.select(
        g, y,
        (
            (
                F.rank().over(w_asc)
                + (F.count(F.lit(1)).over(w_all) - F.rank().over(w_desc) + 1)
            )
            / 2.0
        ).alias("__r"),
    )
    agg = ranked.groupBy("__g").agg(
        F.sum(F.when(y, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(y, 0).otherwise(1)).alias("n_neg"),
        F.sum(F.when(y, F.col("__r"))).alias("__rpos"),
    )
    # all arithmetic in the double domain: long*long products (np*(np+1),
    # np*nn) overflow int64 at ~3e9 positives, which ANSI mode turns into
    # a job abort — doubles stay exact for counts below 2^52 and the
    # final division is float anyway
    np_, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = F.when(
        (np_ > 0) & (nn > 0),
        (F.col("__rpos") - np_ * (np_ + 1) / 2.0) / (np_ * nn),
    )
    return agg.select(
        F.col("__g").alias(group_col), "n_pos", "n_neg", auc.alias("auc")
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a [0, 1] score: equal-width bins,
    per-bin ``(bin, n, mean_score, pos_rate, abs_gap)``. The weighted sum
    of ``abs_gap`` is the expected calibration error (left to the caller
    so the per-bin detail stays inspectable). Scores outside [0, 1) clamp
    into the edge bins (a score of exactly 1.0 lands in the top bin).
    One hash aggregate; NULL scores/labels are excluded.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive: {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    # clamp in the DOUBLE domain before the int cast: floor(1e10 * n)
    # overflows int32 and ANSI mode (Spark 4 default) aborts the job on
    # the cast — clamping first honors the documented edge-bin contract
    # for any finite score; NaN is excluded with the NULLs below
    b = F.least(
        F.greatest(F.floor(s * n_bins), F.lit(0.0)), F.lit(float(n_bins - 1))
    ).cast("int")
    agg = (
        df.where(s.isNotNull() & ~F.isnan(s) & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(s).alias("mean_score"),
            F.avg(y.cast("double")).alias("pos_rate"),
        )
    )
    return agg.withColumn(
        "abs_gap", F.abs(F.col("pos_rate") - F.col("mean_score"))
    )


def cohens_kappa(df: DataFrame, rater_a: str, rater_b: str) -> DataFrame:
    """Cohen's kappa between two categorical label columns: one row
    ``(n, po, pe, kappa)`` with ``po`` the observed agreement, ``pe`` the
    chance agreement from the raters' marginals, and
    ``kappa = (po - pe) / (1 - pe)`` (NULL when ``pe = 1`` — degenerate
    single-category raters). Rows where either label is NULL are
    excluded. Two tiny aggregates (cells, then marginal dot product) —
    nothing corpus-sized survives the first groupBy.
    """
    cells = (
        df.select(F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b"))
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = cells.agg(
        F.sum("__c").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c")).otherwise(0)).alias(
            "__agree"
        ),
    )
    ma = cells.groupBy("__a").agg(F.sum("__c").alias("__na"))
    mb = cells.groupBy("__b").agg(F.sum("__c").alias("__nb"))
    # marginal products in the double domain: na*nb and n*n overflow
    # int64 at ~3e9 rows (ANSI abort / silent wrap), and kappa is a
    # single global aggregate with no per-group slicing escape hatch
    pe_sum = (
        ma.join(mb, ma["__a"] == mb["__b"])
        .agg(
            # no shared category -> empty join -> pe is 0, not NULL
            F.coalesce(
                F.sum(F.col("__na").cast("double") * F.col("__nb").cast("double")),
                F.lit(0.0),
            ).alias("__pe_num")
        )
    )
    out = tot.crossJoin(F.broadcast(pe_sum)).select(
        F.col("n"),
        (F.col("__agree") / F.col("n")).alias("po"),
        (
            F.col("__pe_num")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        ).alias("pe"),
    )
    return out.withColumn(
        "kappa",
        F.when(
            F.col("pe") < 1.0,
            (F.col("po") - F.col("pe")) / (1.0 - F.col("pe")),
        ),
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation between ``x_col`` and
    ``y_col`` under a DETERMINISTIC total order: ranks are ROW_NUMBERs
    ordered by (value, id), so every rank vector is a permutation of
    1..n and the classic closed form ``rho = 1 - 6*sum(d^2) /
    (n*(n^2-1))`` applies exactly — all intermediate sums are
    integer-valued doubles below 2^53, so the cross-engine result is
    bit-stable (no tie-averaging, no covariance round-off). The id
    tiebreak makes ties contribute a deterministic near-zero d rather
    than the mid-rank convention; callers needing textbook tie handling
    should deduplicate or pre-average first (documented trade for exact
    parity and one less window).

    Rows with a NULL in any of the four columns are excluded. Returns
    ``(group, n, spearman)`` with NULL rho when n < 2. Cost: one
    exchange on the group key (both rank windows share the partition),
    then one aggregate — the AUC shape.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        F.col(id_col).alias("__i"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(id_col).isNotNull()
    )
    wx = Window.partitionBy("__g").orderBy(F.col("__x").asc(), F.col("__i").asc())
    wy = Window.partitionBy("__g").orderBy(F.col("__y").asc(), F.col("__i").asc())
    ranked = base.select(
        "__g",
        (F.row_number().over(wx) - F.row_number().over(wy))
        .cast("double")
        .alias("__d"),
    )
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__d") * F.col("__d")).alias("__sd2"),
    )
    nd = F.col("n").cast("double")
    rho = F.when(
        F.col("n") > 1,
        1.0 - 6.0 * F.col("__sd2") / (nd * (nd * nd - 1.0)),
    )
    return agg.select(F.col("__g").alias(group_col), "n", rho.alias("spearman"))


def bradley_terry(
    contests: DataFrame,
    item_a: str = "a",
    item_b: str = "b",
    wins_a: str = "wins_a",
    n_games: str = "n",
    n_iter: int = 5,
) -> DataFrame:
    """Bradley-Terry preference strengths after exactly ``n_iter``
    minorization-maximization sweeps (Zermelo 1929 / Hunter 2004):
    given per-pair contest tallies ``(a, b, n games, wins_a)``, iterate
    ``p_i <- W_i / sum_j n_ij / (p_i + p_j)`` from ``p = 1``. The QA
    primitive for pairwise-preference (RLHF) corpora: strengths that
    disagree with raw win rates expose non-transitive or imbalanced
    comparison graphs before they reach a reward model.

    FIXED sweep count (the PageRank/k-core/LPA determinism contract) so
    the oracle can unroll the same sweeps; no normalization is applied
    (strengths are identifiable up to scale — compare ratios, or
    normalize downstream). ``p_i + p_j`` is always positive: two items
    that played each other cannot both be winless, so the update is
    total. Items appear in the output iff they appear in a contest row.

    Returns ``(item, games, wins, strength)``. Scale shape: the contest
    tally is pair-sized (callers aggregate the corpus first); each sweep
    joins the directed tally against the item-sized score relation
    twice and aggregates on the item key — two exchanges over
    pair-sized data, with eager localCheckpoints keeping the plan flat.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0: {n_iter}")
    g = contests.select(
        F.col(item_a).alias("a"),
        F.col(item_b).alias("b"),
        F.col(n_games).cast("long").alias("n"),
        F.col(wins_a).cast("long").alias("w"),
    )
    d = g.select(F.col("a").alias("i"), F.col("b").alias("j"), "n", "w").union(
        g.select(
            F.col("b").alias("i"),
            F.col("a").alias("j"),
            F.col("n"),
            (F.col("n") - F.col("w")).alias("w"),
        )
    )
    d = d.localCheckpoint(eager=True)
    totals = d.groupBy("i").agg(
        F.sum("n").alias("games"), F.sum("w").alias("wins")
    )
    scores = totals.select("i", F.lit(1.0).alias("p"))
    for _ in range(n_iter):
        den = (
            d.join(scores.select(F.col("i"), F.col("p").alias("__pi")), "i")
            .join(
                scores.select(F.col("i").alias("j"), F.col("p").alias("__pj")),
                "j",
            )
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("n").cast("double") / (F.col("__pi") + F.col("__pj"))
                ).alias("__den")
            )
        )
        scores = (
            totals.join(den, "i")
            .select(
                "i",
                (F.col("wins").cast("double") / F.col("__den")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        totals.join(scores, "i")
        .select(F.col("i").alias("item"), "games", "wins", F.col("p").alias("strength"))
    )


def welch_t_test(
    df: DataFrame,
    group_col: str,
    split_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Welch's two-sample t statistic between the rows where
    boolean ``split_col`` is true (sample 1) and false (sample 2) —
    the parametric mean-shift test next to the rank-based detectors
    (AUC is the Mann-Whitney statistic; CUSUM watches the sequence):
    ``t = (m1 - m2) / sqrt(v1/n1 + v2/n2)`` with the Welch-Satterthwaite
    degrees of freedom. No equal-variance assumption (Student's pooled
    form silently lies on heteroscedastic metrics, which production
    metrics are).

    One hash aggregate per group (conditional moments for both samples
    in a single pass). NULL split/value rows are excluded; t and df are
    NULL when either sample has n < 2 or both variances are 0. Returns
    ``(group, n1, n2, mean_diff, t_stat, df_welch)``.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(split_col).cast("boolean").alias("__s"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(split_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    v1 = F.when(F.col("__s"), F.col("__v"))
    v2 = F.when(~F.col("__s"), F.col("__v"))
    agg = base.groupBy("__g").agg(
        F.count(v1).alias("n1"),
        F.count(v2).alias("n2"),
        F.avg(v1).alias("__m1"),
        F.avg(v2).alias("__m2"),
        F.var_samp(v1).alias("__v1"),
        F.var_samp(v2).alias("__v2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    se1 = F.col("__v1") / n1
    se2 = F.col("__v2") / n2
    ok = (F.col("n1") > 1) & (F.col("n2") > 1)
    t = F.when(ok, F.try_divide(F.col("__m1") - F.col("__m2"), F.sqrt(se1 + se2)))
    dof = F.when(
        ok,
        F.try_divide(
            (se1 + se2) * (se1 + se2),
            se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0),
        ),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n1",
        "n2",
        (F.col("__m1") - F.col("__m2")).alias("mean_diff"),
        t.alias("t_stat"),
        dof.alias("df_welch"),
    )


def bcubed_scores(
    df: DataFrame,
    id_col: str,
    cluster_col: str,
    gold_col: str,
) -> DataFrame:
    """B-cubed precision/recall/F1 of a clustering against gold labels
    (Bagga & Baldwin 1998) — the standard entity-resolution quality
    metric: per RECORD, precision is the fraction of its predicted
    cluster sharing its gold label and recall the fraction of its gold
    class it was clustered with; the scores average over records, so
    splitting a big entity or merging two entities is charged
    per-record (pairwise F1 over-weights large clusters; purity ignores
    splits — B-cubed penalizes both).

    Relational form: overlap counts per (cluster, gold) cell give every
    record in that cell precision ``o/|cluster|`` and recall
    ``o/|gold|``, so the averages are ``sum(o^2 / n_c) / N`` and
    ``sum(o^2 / n_g) / N`` — three hash aggregates and two broadcast
    joins over CELL-sized relations (never a record self-join; the
    naive per-record pair formulation is quadratic in cluster size).
    Counts stay exact integers; the squares move to the double domain
    (int64 overflow at ~3e9-record cells under ANSI). Rows with a NULL
    id/cluster/gold are excluded.

    Returns one row ``(n, bcubed_precision, bcubed_recall, bcubed_f1)``.
    """
    base = df.select(
        F.col(id_col).alias("__i"),
        F.col(cluster_col).alias("__c"),
        F.col(gold_col).alias("__g"),
    ).where(
        F.col(id_col).isNotNull()
        & F.col(cluster_col).isNotNull()
        & F.col(gold_col).isNotNull()
    )
    cells = base.groupBy("__c", "__g").agg(F.count(F.lit(1)).alias("__o"))
    cells = cells.localCheckpoint(eager=True)  # three frames derive from it
    nc = cells.groupBy("__c").agg(F.sum("__o").alias("__nc"))
    ng = cells.groupBy("__g").agg(F.sum("__o").alias("__ng"))
    o = F.col("__o").cast("double")
    stat = (
        cells.join(F.broadcast(nc), "__c")
        .join(F.broadcast(ng), "__g")
        .agg(
            F.sum("__o").alias("n"),
            F.sum(o * o / F.col("__nc")).alias("__sp"),
            F.sum(o * o / F.col("__ng")).alias("__sr"),
        )
    )
    p = F.col("__sp") / F.col("n")
    r = F.col("__sr") / F.col("n")
    return stat.select(
        F.col("n").cast("long").alias("n"),
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        F.try_divide(2.0 * p * r, p + r).alias("bcubed_f1"),
    )


def adjusted_rand_index(
    df: DataFrame,
    id_col: str,
    cluster_col: str,
    gold_col: str,
) -> DataFrame:
    """Adjusted Rand Index of a clustering against gold labels (Hubert &
    Arabie 1985) — B-cubed's pair-counting sibling, chance-corrected:
    0 expected for a random clustering, 1 for perfect. From the same
    (cluster, gold) overlap cells as :func:`bcubed_scores`:
    ``ARI = (Σ C(o,2) - E) / (M - E)`` with ``E = Σ C(n_c,2) ·
    Σ C(n_g,2) / C(n,2)`` and ``M`` the mean of the two marginal pair
    sums. All pair counts are C(x,2) = x(x-1)/2 computed in the double
    domain (x² overflows int64 at ~4.3e9 rows under ANSI). NULL when
    the index is undefined (every record alone, or one giant cluster on
    both sides — M = E). Returns ``(n, ari)``.
    """
    base = df.select(
        F.col(id_col).alias("__i"),
        F.col(cluster_col).alias("__c"),
        F.col(gold_col).alias("__g"),
    ).where(
        F.col(id_col).isNotNull()
        & F.col(cluster_col).isNotNull()
        & F.col(gold_col).isNotNull()
    )
    cells = base.groupBy("__c", "__g").agg(F.count(F.lit(1)).alias("__o"))
    cells = cells.localCheckpoint(eager=True)

    def pairs(col):
        x = F.col(col).cast("double")
        return x * (x - 1.0) / 2.0

    so = cells.agg(
        F.sum("__o").alias("n"), F.sum(pairs("__o")).alias("__so")
    )
    sc = cells.groupBy("__c").agg(F.sum("__o").alias("__nc")).agg(
        F.sum(pairs("__nc")).alias("__sc")
    )
    sg = cells.groupBy("__g").agg(F.sum("__o").alias("__ng")).agg(
        F.sum(pairs("__ng")).alias("__sg")
    )
    j = so.crossJoin(F.broadcast(sc)).crossJoin(F.broadcast(sg))
    n = F.col("n").cast("double")
    e = F.col("__sc") * F.col("__sg") / (n * (n - 1.0) / 2.0)
    m = (F.col("__sc") + F.col("__sg")) / 2.0
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.try_divide(F.col("__so") - e, m - e).alias("ari"),
    )


def conformal_residual_coverage(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    split_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal calibration check per group: fit a linear trend
    on the FIT rows, take the (1 - alpha) quantile of absolute
    residuals on the CALIBRATION rows, and report the EMPIRICAL
    coverage of ``prediction ± q`` on the TEST rows — the
    distribution-free 'are my intervals honest' audit (coverage far
    from 1 - alpha means the calibration split no longer represents the
    test regime: drift, or leakage between splits).

    ``split_col`` must hold 'fit' / 'calib' / 'test' (other labels are
    ignored). One grouped moment aggregate for the fit, one exact
    quantile on the calibration residuals, one conditional count on the
    test rows — three group-sized passes, no corpus self-join. Returns
    ``(group, n_fit, n_calib, n_test, q_resid, coverage)``; NULL
    q_resid/coverage when any split is empty or the fit is degenerate.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
        F.col(split_col).alias("__s"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(split_col).isin("fit", "calib", "test")
    )
    fit = base.where(F.col("__s") == "fit")
    n = F.count(F.lit(1)).cast("double")
    m = fit.groupBy("__g").agg(
        n.alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    vx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.try_divide(
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy"), vx
    )
    model = m.select(
        "__g",
        F.round(slope + F.lit(1e-9), 6).alias("__b"),
        F.round(
            (F.col("__sy") - slope * F.col("__sx")) / F.col("__n") + F.lit(1e-9), 6
        ).alias("__a"),
        F.col("__n").cast("long").alias("n_fit"),
    )
    scored = base.join(F.broadcast(model), "__g").withColumn(
        "__r", F.abs(F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x")))
    )
    calib = scored.where(F.col("__s") == "calib").groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_calib"),
        F.round(
            F.percentile("__r", float(1.0 - alpha)) + F.lit(1e-9), 6
        ).alias("q_resid"),
    )
    test = (
        scored.where(F.col("__s") == "test")
        .join(F.broadcast(calib), "__g")
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.avg(
                (F.col("__r") <= F.col("q_resid")).cast("double")
            ).alias("coverage"),
        )
    )
    return (
        model.select("__g", "n_fit")
        .join(calib, "__g", "left")
        .join(test, "__g", "left")
        .select(
            F.col("__g").alias(group_col),
            "n_fit",
            F.coalesce("n_calib", F.lit(0)).alias("n_calib"),
            F.coalesce("n_test", F.lit(0)).alias("n_test"),
            "q_resid",
            "coverage",
        )
    )


def _survival_staged(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Shared right-censored survival cell table: one row per (group,
    duration) with event count ``__d``, censoring count ``__c`` and
    at-risk count ``__n`` (a REVERSED running sum — n at t = group total
    minus everything that left strictly before t). The tie-collapsed
    reduced frame every survival estimator here (KM, Nelson-Aalen)
    derives from; NULL group/duration/event rows are excluded."""
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(duration_col).cast("double").alias("__t"),
        F.col(event_col).cast("boolean").alias("__e"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
    )
    times = base.groupBy("__g", "__t").agg(
        F.count_if(F.col("__e")).alias("__d"),
        F.count_if(~F.col("__e")).alias("__c"),
    )
    w_all = Window.partitionBy("__g")
    w_before = (
        Window.partitionBy("__g")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_risk = (
        F.sum(F.col("__d") + F.col("__c")).over(w_all)
        - F.coalesce(F.sum(F.col("__d") + F.col("__c")).over(w_before), F.lit(0))
    )
    return times.select("__g", "__t", "__d", "__c", n_risk.alias("__n"))


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve per group from (duration, observed)
    pairs — time-to-conversion / time-to-churn with right-censoring
    done honestly (dropping censored subjects biases every naive
    average): at each observed event time ``t``,
    ``S(t) = prod_{t_i <= t} (1 - d_i / n_i)`` with ``d_i`` events and
    ``n_i`` the at-risk count (subjects with duration >= t_i, censored
    included until they leave).

    Relational form: one (group, duration) aggregate counting events
    and censorings per time; the at-risk count is a REVERSED running
    sum (n at t = total minus everything that left strictly before t);
    the product telescopes to ``exp(running sum of ln(1 - d/n))`` — one
    ordered window per group, no recursion. Each factor's log is
    nudge-rounded to 9 dp before the running sum (the chained-float
    contract; 9 dp because factors near 1 need the headroom), so both
    engines accumulate identical doubles in identical order. A time
    where d = n (everyone left by event) sends S to exactly 0 via a
    NULL-log guard rather than ln(0).

    Returns one row per (group, observed event time): ``(group,
    duration, n_risk, n_events, n_censored, survival)``. Censor-only
    times affect n_risk but emit no row (the KM convention).
    """
    staged = _survival_staged(df, group_col, duration_col, event_col)
    # ln factor, rounded; d = n -> S hits exactly 0 downstream
    lf = F.when(
        F.col("__d") < F.col("__n"),
        F.round(
            F.log(1.0 - F.col("__d").cast("double") / F.col("__n")) + F.lit(1e-12),
            9,
        ),
    )
    w_run = (
        Window.partitionBy("__g")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dead = F.max(F.when(F.col("__d") >= F.col("__n"), F.col("__t"))).over(w_run)
    surv = F.when(dead.isNotNull(), F.lit(0.0)).otherwise(
        F.exp(F.sum(lf).over(w_run))
    )
    return (
        staged.withColumn("survival", surv)
        .where(F.col("__d") > 0)
        .select(
            F.col("__g").alias(group_col),
            F.col("__t").alias(duration_col),
            F.col("__n").cast("long").alias("n_risk"),
            F.col("__d").cast("long").alias("n_events"),
            F.col("__c").cast("long").alias("n_censored"),
            "survival",
        )
    )


def nelson_aalen(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve per group from (duration,
    observed) pairs — the additive companion to :func:`kaplan_meier`:
    ``H(t) = sum_{t_i <= t} d_i / n_i`` with Aalen's variance estimate
    ``Var(t) = sum (n_i - d_i) * d_i / n_i^3``, plus the
    Fleming-Harrington survival estimate ``exp(-H(t))`` (tighter than
    KM in small samples, identical asymptotically). Hazard is the
    natural scale for crude-rate comparisons and for the ratio reading
    an exposure analysis wants ("arm A accumulates risk 1.4x faster"),
    which the multiplicative KM curve can't give directly.

    Relational form: the same tie-collapsed (group, duration) cell
    table as KM (events, censorings, reversed-running-sum at-risk
    counts — :func:`_survival_staged`), then ONE ordered running sum
    per group over the per-time increments. Each increment is
    nudge-rounded to 9 dp before the running sum (the chained-float
    contract KM's log factors use: both engines accumulate identical
    doubles in identical order); d_i and n_i are exact integers so the
    increments are correctly-rounded IEEE steps on identical operands.

    Returns one row per (group, observed event time): ``(group,
    duration, n_risk, n_events, n_censored, cum_hazard, var_hazard,
    survival_fh)``. Censor-only times advance n_risk but emit no row
    (the KM convention); output rounds to 6 dp.
    """
    staged = _survival_staged(df, group_col, duration_col, event_col)
    # all-double arithmetic (a long n^3 would overflow past n ~ 2M); the
    # operand order here is the contract the SQL restatement must copy
    nd, dd = F.col("__n").cast("double"), F.col("__d").cast("double")
    dh = F.round(dd / nd + F.lit(1e-12), 9)
    dv = F.round((nd - dd) * dd / (nd * nd * nd) + F.lit(1e-12), 9)
    w_run = (
        Window.partitionBy("__g")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        staged.withColumn("__h", F.sum(dh).over(w_run))
        .withColumn("__v", F.sum(dv).over(w_run))
        .where(F.col("__d") > 0)
        .select(
            F.col("__g").alias(group_col),
            F.col("__t").alias(duration_col),
            F.col("__n").cast("long").alias("n_risk"),
            F.col("__d").cast("long").alias("n_events"),
            F.col("__c").cast("long").alias("n_censored"),
            F.round(F.col("__h") + F.lit(1e-9), 6).alias("cum_hazard"),
            F.round(F.col("__v") + F.lit(1e-9), 6).alias("var_hazard"),
            F.round(F.exp(-F.col("__h")) + F.lit(1e-9), 6).alias("survival_fh"),
        )
    )


def logrank_test(
    df: DataFrame,
    class_col: str,
    duration_col: str,
    event_col: str,
    class_a,
) -> DataFrame:
    """Two-group log-rank test (Mantel-Haenszel) over right-censored
    durations: do groups A and B share one survival curve? The
    inferential companion to :func:`kaplan_meier` — KM draws the two
    curves, this says whether the gap is real, weighting every event
    time by its hypergeometric expectation so censoring is handled
    honestly rather than dropped.

    At each pooled event time with ``d`` total events, ``n``/``n1`` at
    risk overall/in A and ``d1`` events in A:
    ``O = sum d1``, ``E = sum d*n1/n``,
    ``V = sum d*(n1/n)*(1-n1/n)*((n-d)/(n-1))`` (times with n = 1
    contribute 0), ``z = (O-E)/sqrt(V)`` — negative z means A's events
    come LATER (better survival). O is integer-exact; E/V terms are
    correctly-rounded IEEE steps on exact-integer operands, identical
    on both engines, with only the final sums order-dependent (absorbed
    by the output rounds).

    At-risk counts are reversed cumulative leaver-counts over the
    pooled time axis, computed WITHOUT a single-partition window via
    :func:`~mr_dice_spark.operators.scale.prefix_sums` (the
    kruskal-wallis discipline — the distinct-duration table is
    corpus-sized in general). One (time) hash aggregate, one prefix
    pass, two tiny reduces. Returns one row ``(n_a, n_b, observed_a,
    expected_a, variance, z, chi2)``; z/chi2 NULL when V = 0 (no
    comparable event times, fail-closed)."""
    base = df.select(
        (F.col(class_col) == F.lit(class_a)).alias("__a"),
        F.col(duration_col).cast("double").alias("__t"),
        F.col(event_col).cast("boolean").alias("__e"),
    ).where(
        F.col(class_col).isNotNull()
        & F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
    )
    from mr_dice_spark.operators.scale import prefix_sums

    times = base.groupBy("__t").agg(
        F.count_if(F.col("__a") & F.col("__e")).alias("__d1"),
        F.count_if(F.col("__e")).alias("__d"),
        F.count_if(F.col("__a")).alias("__l1"),
        F.count(F.lit(1)).alias("__l"),
    )
    pre = prefix_sums(times, "__t", ["__l1", "__l"])
    # 1-row totals feed BOTH the at-risk reconstruction and the final
    # count readout (ADVICE r7) — pin so the second use doesn't re-run
    # the aggregate over the corpus-sized distinct-duration table.
    tot = pre.agg(
        F.sum("__l1").alias("__n1tot"), F.sum("__l").alias("__ntot")
    ).localCheckpoint(eager=True)
    j = pre.crossJoin(F.broadcast(tot))
    n1 = (F.col("__n1tot") - (F.col("__l1_cum") - F.col("__l1"))).cast("double")
    n = (F.col("__ntot") - (F.col("__l_cum") - F.col("__l"))).cast("double")
    d = F.col("__d").cast("double")
    p = n1 / n
    terms = j.where(F.col("__d") > 0).select(
        F.col("__d1").alias("__o"),
        (d * n1 / n).alias("__e"),
        F.when(
            n > 1, d * p * (1.0 - p) * ((n - d) / (n - 1.0))
        ).otherwise(F.lit(0.0)).alias("__v"),
    )
    # n_a/n_b come from the PRE-filter totals (ADVICE r7): when no time
    # has an event the terms frame is empty and F.max over it would
    # return NULL counts, breaking the docstring's promise that only
    # z/chi2 go NULL. Empty-sum O/E/V coalesce to 0 for the same reason.
    agg = (
        terms.agg(
            F.coalesce(F.sum("__o"), F.lit(0)).alias("__oo"),
            F.coalesce(F.sum("__e"), F.lit(0.0)).alias("__ee"),
            F.coalesce(F.sum("__v"), F.lit(0.0)).alias("__vv"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("__n1tot").alias("__na"),
            F.col("__ntot").alias("__nn"),
            "__oo",
            "__ee",
            "__vv",
        )
    )
    z = F.when(
        F.col("__vv") > 0,
        (F.col("__oo").cast("double") - F.col("__ee")) / F.sqrt(F.col("__vv")),
    )
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        (F.col("__nn") - F.col("__na")).cast("long").alias("n_b"),
        F.col("__oo").cast("long").alias("observed_a"),
        F.round(F.col("__ee") + F.lit(1e-9), 6).alias("expected_a"),
        F.round(F.col("__vv") + F.lit(1e-9), 6).alias("variance"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
        F.round(z * z + F.lit(1e-9), 4).alias("chi2"),
    )


def randomization_test(
    df: DataFrame,
    unit_col: str,
    class_col: str,
    value_col: str,
    class_a,
    n_perm: int = 199,
    seed: str = "rt",
) -> DataFrame:
    """Randomization (Monte-Carlo permutation-style) test for a
    difference in unit-level means, with NO distributional assumptions
    and NO distribution functions: the observed statistic ``T = mean_A
    - mean_B`` over per-unit totals is compared against ``n_perm``
    deterministic pseudo-assignments (portable md5 hash of
    ``unit:replicate``, restatable in SQL), and
    ``p = (1 + #{|T_b| >= |T|}) / (n_perm + 1)`` — the add-one form
    that keeps p valid (Davison & Hinkley). This is re-randomization
    (each replicate re-flips every unit ~50/50) rather than an exact
    permutation of the observed labels — the standard Monte-Carlo
    variant, stated honestly.

    Cross-engine contract: T and every T_b are quantized (nudge-round
    6) BEFORE the >= comparison, so the count of exceeding replicates
    cannot flip on engine-level ulps. Scale shape: one corpus-sized
    aggregate to per-unit totals, then the replicate explode runs on
    the REDUCED unit frame (units x n_perm rows — bounded by the unit
    count, never the corpus), one hash aggregate per replicate, one
    1-row reduce. Returns ``(n_units, n_a, n_b, t_obs, n_perm,
    n_exceed, p_value)``; t_obs/p NULL when either arm is empty."""
    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1: {n_perm}")
    from mr_dice_spark.operators.sampling import hash_bucket

    units = (
        df.where(
            F.col(unit_col).isNotNull()
            & F.col(class_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.max((F.col(class_col) == F.lit(class_a)).cast("int")).alias("__a"),
            F.round(F.sum(F.col(value_col).cast("double")) + F.lit(1e-9), 6).alias(
                "__y"
            ),
        )
        .localCheckpoint(eager=True)
    )
    obs = units.agg(
        F.count(F.lit(1)).alias("__nu"),
        F.count_if(F.col("__a") == 1).alias("__na"),
        F.count_if(F.col("__a") == 0).alias("__nb"),
        F.round(
            F.avg(F.when(F.col("__a") == 1, F.col("__y")))
            - F.avg(F.when(F.col("__a") == 0, F.col("__y")))
            + F.lit(1e-9),
            6,
        ).alias("__t"),
    )
    reps = units.select(
        "__u", "__y",
        F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("__b"),
    ).select(
        "__b", "__y",
        (
            hash_bucket(
                F.concat(
                    F.col("__u").cast("string"),
                    F.lit(":"),
                    F.col("__b").cast("string"),
                ),
                seed,
            )
            % 2
            == 0
        ).alias("__pa"),
    )
    tb = reps.groupBy("__b").agg(
        F.round(
            F.avg(F.when(F.col("__pa"), F.col("__y")))
            - F.avg(F.when(~F.col("__pa"), F.col("__y")))
            + F.lit(1e-9),
            6,
        ).alias("__tb")
    )
    exceed = tb.crossJoin(F.broadcast(obs)).agg(
        F.count_if(F.abs(F.col("__tb")) >= F.abs(F.col("__t"))).alias("__ge")
    )
    out = obs.crossJoin(F.broadcast(exceed))
    valid = (F.col("__na") > 0) & (F.col("__nb") > 0)
    return out.select(
        F.col("__nu").cast("long").alias("n_units"),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.when(valid, F.col("__t")).alias("t_obs"),
        F.lit(n_perm).cast("long").alias("n_perm"),
        F.col("__ge").cast("long").alias("n_exceed"),
        F.when(
            valid,
            F.round(
                (1.0 + F.col("__ge").cast("double")) / float(n_perm + 1)
                + F.lit(1e-9),
                6,
            ),
        ).alias("p_value"),
    )


def cronbach_alpha(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha over a (unit x item) score matrix assembled
    from long-form rows (absent cells score 0): internal-consistency
    reliability — do the k items move together enough to be read as
    one scale? The metric-battery sanity check beside Krippendorff's
    inter-RATER alpha: here the 'raters' are the metrics themselves
    (per-channel engagement counts, per-dimension quality subscores).
    ``alpha = k/(k-1) * (1 - sum_i var_i / var_total)`` with var_i the
    population variance of item i across ALL units and var_total the
    variance of unit totals.

    Absent-cell zeros are folded in analytically (the burstiness
    identity: with N units, ``var = s2/N - (s1/N)^2`` from the present
    cells' sums alone) — no dense matrix, no pivot. Cell scores are
    quantized (nudge-round 6) at assembly so both engines derive
    variances from identical doubles. The cell aggregate is
    localCheckpoint-pinned (item variances, unit totals and the item
    count all derive from it). Returns one row
    ``(k_items, n_units, sum_item_var, total_var, alpha)``; alpha NULL
    when k < 2 or the total variance is 0 (fail-closed)."""
    cells = (
        df.where(
            F.col(unit_col).isNotNull()
            & F.col(item_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("__u"), F.col(item_col).alias("__i"))
        .agg(
            F.round(F.sum(F.col(value_col).cast("double")) + F.lit(1e-9), 6).alias(
                "__x"
            )
        )
        .localCheckpoint(eager=True)
    )
    nu = cells.select(F.count_distinct("__u").cast("double").alias("__n"))
    items = (
        cells.groupBy("__i")
        .agg(F.sum("__x").alias("__s1"), F.sum(F.col("__x") * F.col("__x")).alias("__s2"))
        .crossJoin(F.broadcast(nu))
        .agg(
            F.count(F.lit(1)).alias("__k"),
            F.sum(
                F.col("__s2") / F.col("__n")
                - (F.col("__s1") / F.col("__n")) * (F.col("__s1") / F.col("__n"))
            ).alias("__vi"),
        )
    )
    totals = (
        cells.groupBy("__u")
        .agg(F.sum("__x").alias("__t"))
        .crossJoin(F.broadcast(nu))
        .agg(
            F.max("__n").alias("__nn"),
            F.sum("__t").alias("__ts1"),
            F.sum(F.col("__t") * F.col("__t")).alias("__ts2"),
        )
    )
    j = items.crossJoin(F.broadcast(totals))
    kd = F.col("__k").cast("double")
    vt = F.col("__ts2") / F.col("__nn") - (F.col("__ts1") / F.col("__nn")) * (
        F.col("__ts1") / F.col("__nn")
    )
    alpha = F.when(
        (F.col("__k") >= 2) & (vt > 0),
        kd / (kd - 1.0) * (1.0 - F.col("__vi") / vt),
    )
    return j.select(
        F.col("__k").cast("long").alias("k_items"),
        F.col("__nn").cast("long").alias("n_units"),
        F.round(F.col("__vi") + F.lit(1e-9), 6).alias("sum_item_var"),
        F.round(vt + F.lit(1e-9), 6).alias("total_var"),
        F.round(alpha + F.lit(1e-9), 6).alias("alpha"),
    )


def hodges_lehmann_shift(
    df: DataFrame,
    key_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Per-key Hodges-Lehmann shift estimate: the MEDIAN of all
    pairwise differences ``a_i - b_j`` between the two classes — the
    location estimator associated with the Mann-Whitney test (same
    module), answering "HOW BIG is the shift" where U answers "is
    there one", with a 29% breakdown point where the difference of
    means has zero.

    Scale contract (the theil_sen rule): pair work is |A| x |B| PER
    KEY over the rows given, so callers feed REDUCED frames — bucket
    means, per-unit aggregates — not raw events; the operator
    quantizes values (nudge-round 6) before differencing so both
    engines pair identical doubles, and the median is the exact
    interpolated percentile. Returns ``(key, n_a, n_b, n_pairs,
    hl_shift)``; NULL when either class is empty."""
    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(key_col).isNotNull() & F.col(class_col).isNotNull() & v.isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        (F.col(class_col) == F.lit(class_a)).alias("__a"),
        F.round(v + F.lit(1e-9), 6).alias("__v"),
    ).localCheckpoint(eager=True)
    a = base.where(F.col("__a")).select("__k", F.col("__v").alias("__va"))
    b = base.where(~F.col("__a")).select("__k", F.col("__v").alias("__vb"))
    diffs = a.join(b, "__k").select(
        "__k", (F.col("__va") - F.col("__vb")).alias("__d")
    )
    counts = base.groupBy("__k").agg(
        F.count_if(F.col("__a")).alias("n_a"),
        F.count_if(~F.col("__a")).alias("n_b"),
    )
    hl = diffs.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("__d", 0.5) + F.lit(1e-9), 6).alias("hl_shift"),
    )
    return counts.join(hl, "__k", "left").select(
        F.col("__k").alias(key_col),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        "hl_shift",
    )


def covariate_balance_smd(
    df: DataFrame,
    unit_col: str,
    class_col: str,
    covariate_cols: list[str],
    class_a,
) -> DataFrame:
    """Standardized-mean-difference balance table for an experiment's
    two arms: per covariate, ``smd = (mean_A - mean_B) /
    sqrt((var_A + var_B) / 2)`` over per-UNIT values, plus the |SMD| <
    0.1 balance verdict (the covariate-balance screen run BEFORE
    trusting any A/B readout — an imbalanced covariate is how a
    'significant' result turns out to be a cohort artifact; companion
    to srm_check's count-level gate).

    Units aggregate first (per-unit covariate means), then ONE
    conditional-moment aggregate emits both arms' means/variances for
    every covariate — one corpus scan, one unit-sized reduce. NULL smd
    when both arm variances are 0 (constant covariate, fail-closed).
    Returns one row per covariate: ``(covariate, n_a, n_b, mean_a,
    mean_b, smd, balanced)``."""
    if not covariate_cols:
        raise ValueError("need >= 1 covariate column")
    units = (
        df.where(F.col(unit_col).isNotNull() & F.col(class_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.max((F.col(class_col) == F.lit(class_a)).cast("int")).alias("__a"),
            *[
                F.round(
                    F.avg(F.col(c).cast("double")) + F.lit(1e-9), 6
                ).alias(f"__c_{i}")
                for i, c in enumerate(covariate_cols)
            ],
        )
    )
    aggs = [
        F.count_if(F.col("__a") == 1).alias("__na"),
        F.count_if(F.col("__a") == 0).alias("__nb"),
    ]
    for i in range(len(covariate_cols)):
        c = F.col(f"__c_{i}")
        aggs += [
            F.avg(F.when(F.col("__a") == 1, c)).alias(f"__ma_{i}"),
            F.avg(F.when(F.col("__a") == 0, c)).alias(f"__mb_{i}"),
            F.var_pop(F.when(F.col("__a") == 1, c)).alias(f"__va_{i}"),
            F.var_pop(F.when(F.col("__a") == 0, c)).alias(f"__vb_{i}"),
        ]
    row = units.agg(*aggs)
    out_rows = []
    for i, c in enumerate(covariate_cols):
        pooled = (F.col(f"__va_{i}") + F.col(f"__vb_{i}")) / 2.0
        smd = F.when(
            pooled > 0,
            F.round(
                (F.col(f"__ma_{i}") - F.col(f"__mb_{i}")) / F.sqrt(pooled)
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0),
        )
        out_rows.append(
            F.struct(
                F.lit(c).alias("covariate"),
                F.col("__na").cast("long").alias("n_a"),
                F.col("__nb").cast("long").alias("n_b"),
                F.round(F.col(f"__ma_{i}") + F.lit(1e-9), 6).alias("mean_a"),
                F.round(F.col(f"__mb_{i}") + F.lit(1e-9), 6).alias("mean_b"),
                smd.alias("smd"),
                F.coalesce(F.abs(smd) < 0.1, F.lit(False)).alias("balanced"),
            )
        )
    return row.select(F.explode(F.array(*out_rows)).alias("__p")).select(
        "__p.covariate", "__p.n_a", "__p.n_b", "__p.mean_a", "__p.mean_b",
        "__p.smd", "__p.balanced",
    )


def restricted_mean_survival(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    tau: float,
) -> DataFrame:
    """Restricted mean survival time per group: ``RMST(tau) =
    integral_0^tau S(t) dt`` over the Kaplan-Meier step curve — "the
    average event-free time in the first tau units", the one-number
    survival summary that stays meaningful under censoring where the
    raw mean duration is biased and the median may not exist (S never
    reaching 0.5). Completes this module's survival family: KM draws
    the curve, log-rank tests the gap, RMST prices it in time units.

    Step-integral form over the KM output rows (event times only, the
    KM convention): the head rectangle ``1 * min(t_1, tau)``, each
    interval ``S(t_i) * (min(t_{i+1}, tau) - t_i)`` for ``t_i < tau``
    (the last interval runs to tau). Exactly one key-partitioned lead
    window over the event-time rows — everything upstream is
    :func:`kaplan_meier`'s existing shape. Returns ``(group,
    n_event_times, tau, rmst)``; rmst is NULL-safe by construction
    (groups reach the output only with >= 1 event time)."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0: {tau}")
    km = kaplan_meier(df, group_col, duration_col, event_col)
    w = Window.partitionBy(group_col).orderBy(duration_col)
    t = F.col(duration_col).cast("double")
    nxt = F.lead(t).over(w)
    first = F.row_number().over(w) == 1
    head = F.when(first, F.least(t, F.lit(float(tau)))).otherwise(0.0)
    seg = F.when(
        t < tau,
        F.col("survival")
        * (F.least(F.coalesce(nxt, F.lit(float(tau))), F.lit(float(tau))) - t),
    ).otherwise(0.0)
    terms = km.select(
        F.col(group_col).alias("__g"),
        (head + seg).alias("__a"),
    )
    return (
        terms.groupBy("__g")
        .agg(
            F.count(F.lit(1)).alias("n_event_times"),
            F.round(F.sum("__a") + F.lit(1e-9), 4).alias("rmst"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("n_event_times").cast("long").alias("n_event_times"),
            F.lit(float(tau)).alias("tau"),
            "rmst",
        )
    )


def cuped_adjusted_means(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    covariate_col: str,
    round_scale: int = 5,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    for experiment readouts: adjust each unit's metric by its
    pre-experiment covariate, ``y' = y - theta * (x - mean(x))`` with
    ``theta = cov(x, y) / var(x)``, then report per experiment group
    ``(group, n, mean_metric, mean_adjusted, var_metric, var_adjusted,
    var_reduction)``. The adjustment leaves every group mean's
    EXPECTATION unchanged while removing the covariate-explained
    variance — the standard way an A/B readout over heavy-tailed user
    metrics reaches significance with 2-10x fewer units. Input is one
    row per unit (pre-aggregate upstream); rows with a NULL metric or
    covariate are excluded from theta and the report.

    Scale shape: ONE corpus pass computes the global moments (a 1-row
    broadcast), one more computes the per-group report — no unit-keyed
    shuffle beyond the group aggregate. theta and mean(x) are quantized
    to 9 decimals before the adjustment (the k-means-centroid trick) so
    a cross-engine restatement iterates from identical state.
    """
    base = df.where(
        F.col(metric_col).isNotNull() & F.col(covariate_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(metric_col).cast("double").alias("__y"),
        F.col(covariate_col).cast("double").alias("__x"),
    )
    mom = base.agg(
        F.round(
            F.try_divide(F.covar_pop("__x", "__y"), F.var_pop("__x")) + F.lit(1e-9),
            9,
        ).alias("__theta"),
        F.round(F.avg("__x") + F.lit(1e-9), 9).alias("__xbar"),
    )
    adj = base.crossJoin(F.broadcast(mom)).withColumn(
        "__ya",
        F.col("__y")
        - F.coalesce(F.col("__theta"), F.lit(0.0))
        * (F.col("__x") - F.col("__xbar")),
    )
    out = adj.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("__y") + F.lit(1e-9), round_scale).alias("mean_metric"),
        F.round(F.avg("__ya") + F.lit(1e-9), round_scale).alias("mean_adjusted"),
        F.round(F.var_pop("__y") + F.lit(1e-9), round_scale).alias("var_metric"),
        F.round(F.var_pop("__ya") + F.lit(1e-9), round_scale).alias("var_adjusted"),
        F.round(
            F.lit(1.0) - F.try_divide(F.var_pop("__ya"), F.var_pop("__y")) + F.lit(1e-9),
            round_scale,
        ).alias("var_reduction"),
    )
    return out


def srm_check(
    df: DataFrame,
    arm_col: str,
    expected_shares: dict,
    crit: float = 3.841,
) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-integrity gate run
    BEFORE reading any A/B metric (a randomizer bug, bot filter, or
    logging loss that skews arm sizes invalidates the comparison before
    statistics start; Fabijan et al., "Diagnosing Sample Ratio
    Mismatch", KDD 2019). One row per arm ``(arm, n, share,
    expected_share, expected_n)`` plus the goodness-of-fit statistic
    and verdict on every row: ``chi2 = sum (o - e)^2 / e`` against the
    DECLARED allocation, ``srm_flag = chi2 > crit`` (default 3.841, the
    95% point at 1 dof — pass the right critical value for more arms;
    the STATISTIC is reported rather than a p-value so the verdict has
    no transcendental-CDF cross-engine surface). Arms observed in the
    data but missing from ``expected_shares`` raise (an unknown arm IS
    an integrity failure); declared arms with zero rows contribute
    their full expected count to chi2.

    One hash aggregate on the arm key; the chi2 reduce runs over the
    arm-sized relation. NULL arms are excluded (count them upstream if
    NULL assignment itself is the bug being hunted).
    """
    if not expected_shares:
        raise ValueError("srm_check: expected_shares must be non-empty")
    total_share = float(sum(expected_shares.values()))
    if abs(total_share - 1.0) > 1e-9:
        raise ValueError(
            f"srm_check: expected shares must sum to 1, got {total_share}"
        )
    if any(s <= 0 for s in expected_shares.values()):
        raise ValueError("srm_check: every expected share must be > 0")
    counts = (
        df.where(F.col(arm_col).isNotNull())
        .groupBy(F.col(arm_col).alias("arm"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    unknown = counts.join(
        F.broadcast(
            counts.sparkSession.createDataFrame(
                [(k,) for k in expected_shares], ["arm"]
            )
        ),
        "arm",
        "left_anti",
    ).limit(1).collect()
    if unknown:
        raise ValueError(
            f"srm_check: arm {unknown[0]['arm']!r} observed in the data "
            "but absent from expected_shares — an unknown arm is itself "
            "an integrity failure"
        )
    exp_df = F.broadcast(
        counts.sparkSession.createDataFrame(
            [(k, float(v)) for k, v in expected_shares.items()],
            ["arm", "expected_share"],
        )
    )
    full = exp_df.join(counts, "arm", "left").select(
        "arm", "expected_share", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = full.agg(F.sum("n").alias("__t"))
    per = full.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(F.try_divide(F.col("n"), F.col("__t")) + F.lit(1e-9), 6).alias(
            "share"
        ),
        F.round(F.col("expected_share") + F.lit(1e-9), 6).alias("expected_share"),
        (F.col("expected_share") * F.col("__t")).alias("__en"),
    )
    chi = per.agg(
        F.round(
            F.sum(
                F.try_divide(
                    (F.col("n") - F.col("__en")) * (F.col("n") - F.col("__en")),
                    F.col("__en"),
                )
            )
            + F.lit(1e-9),
            6,
        ).alias("chi2")
    )
    return (
        per.crossJoin(F.broadcast(chi))
        .select(
            "arm",
            F.col("n").cast("long").alias("n"),
            "share",
            "expected_share",
            F.round(F.col("__en") + F.lit(1e-9), 6).alias("expected_n"),
            "chi2",
            (F.col("chi2") > crit).alias("srm_flag"),
        )
    )


def krippendorff_alpha_nominal(
    df: DataFrame,
    unit_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL labels — the multi-rater
    agreement standard (Krippendorff, Content Analysis; the labeling-QA
    companion to Cohen's kappa that handles any number of raters per
    unit AND missing ratings): ``alpha = 1 - Do/De`` over the
    coincidence form,

        Do = sum_u (n_u^2 - sum_c m_uc^2) / (n_u - 1)
        De = (n^2 - sum_c n_c^2) / (n - 1)

    where ``m_uc`` counts label c's ratings on unit u, ``n_u`` the
    unit's ratings, ``n_c = sum_u m_uc`` and ``n = sum n_u``, all over
    units with >= 2 ratings (a singly-rated unit carries no agreement
    evidence and is excluded, the standard treatment of missing data).
    alpha = 1 is perfect agreement; 0 is chance; negative is systematic
    disagreement. Rater identity never enters the nominal coincidence
    form, so the input is just (unit, label) rating rows.

    Returns one row ``(n_units, n_ratings, do_rate, de_rate, alpha)``
    with the disagreement rates normalized per rating (``Do/n``,
    ``De/n``) for readability. NULL units or labels are excluded.

    Scale shape: one (unit, label) aggregate, one unit-keyed aggregate
    over that, one label-keyed aggregate over the same cells (both
    group-domain-sized, derived from the materialized cell relation —
    one corpus scan), and a closing 1-row reduce.
    """
    cells = (
        df.where(F.col(unit_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"), F.col(label_col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__m"))
        .localCheckpoint(eager=True)
    )
    units = (
        cells.groupBy("__u")
        .agg(F.sum("__m").alias("__nu"), F.sum(F.col("__m") * F.col("__m")).alias("__sq"))
        .where(F.col("__nu") >= 2)
        .localCheckpoint(eager=True)
    )
    do = units.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("__nu").alias("__n"),
        F.sum(
            (F.col("__nu") * F.col("__nu") - F.col("__sq"))
            / (F.col("__nu") - 1).cast("double")
        ).alias("__do"),
    )
    nc = (
        cells.join(units.select("__u"), "__u")
        .groupBy("__c")
        .agg(F.sum("__m").alias("__nc"))
        .agg(F.sum(F.col("__nc") * F.col("__nc")).cast("double").alias("__snc2"))
    )
    out = do.crossJoin(F.broadcast(nc))
    n = F.col("__n").cast("double")
    de = F.try_divide(n * n - F.col("__snc2"), n - 1)
    return out.select(
        F.col("n_units").cast("long").alias("n_units"),
        F.col("__n").cast("long").alias("n_ratings"),
        F.round(F.try_divide(F.col("__do"), n) + F.lit(1e-9), 6).alias("do_rate"),
        F.round(F.try_divide(de, n) + F.lit(1e-9), 6).alias("de_rate"),
        F.round(
            F.lit(1.0) - F.try_divide(F.col("__do"), de) + F.lit(1e-9), 6
        ).alias("alpha"),
    )


def jackknife_ratio_ci(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    num_col: str,
    den_col,
    n_buckets: int = 20,
    seed: str = "",
    z: float = 1.96,
) -> DataFrame:
    """Delete-one-bucket jackknife CI for a RATIO metric per group — the
    standard error an A/B readout actually needs when the metric is
    sum(num)/sum(den) over correlated rows (revenue per session, CTR):
    the naive per-row variance is wrong because rows within a
    randomization unit are dependent, and the delete-one-bucket
    jackknife (Efron; the streaming-bucket form every large experiment
    platform runs) is the distributed-friendly estimator: units hash
    into ``n_buckets`` buckets, ``theta_i`` recomputes the ratio with
    bucket i removed, and ``var = (g-1)/g * sum((theta_i - mean)^2)``
    over the g observed buckets.

    Buckets come from the engine-portable md5 hash
    (``sampling.hash_bucket % n_buckets``) so the assignment — not just
    the aggregate — is oracle-restatable. ``den_col`` may be a column
    name or ``None`` for a plain mean (denominator 1 per row).

    Parity pinning: per-bucket sums are nudge-rounded at 4 decimals
    BEFORE the leave-one-out arithmetic (double summation order differs
    across engines; the error is ~1e-10 on money-scale sums, orders
    below the 1e-4 grid), so every downstream theta_i is bit-identical
    on both engines and only the final statistics need the output
    rounding.

    Scale shape: one hash aggregate to (group, bucket) — g*|groups|
    rows — then window + aggregate over that tiny relation. No
    driver-side state, no collect.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    from mr_dice_spark.operators.sampling import hash_bucket

    den_expr = F.lit(1.0) if den_col is None else F.col(den_col).cast("double")
    # NULL guards (ADVICE r7): a NULL denominator row would keep its
    # numerator in __bn while SUM drops the NULL from __bd (biasing theta
    # and every leave-one-out ratio), and a NULL unit would hash into a
    # NULL pseudo-bucket instead of being excluded — guard all four.
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(num_col).isNotNull()
        & F.col(unit_col).isNotNull()
        & den_expr.isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        (hash_bucket(F.col(unit_col), seed) % n_buckets).cast("int").alias("__b"),
        F.col(num_col).cast("double").alias("__n"),
        den_expr.alias("__d"),
    )
    per_bucket = base.groupBy("__g", "__b").agg(
        F.round(F.sum("__n") + F.lit(1e-9), 4).alias("__bn"),
        F.round(F.sum("__d") + F.lit(1e-9), 4).alias("__bd"),
        F.count(F.lit(1)).alias("__rows"),
    )
    w = Window.partitionBy("__g")
    loo = per_bucket.select(
        "__g",
        "__rows",
        F.sum("__bn").over(w).alias("__sn"),
        F.sum("__bd").over(w).alias("__sd"),
        F.count(F.lit(1)).over(w).alias("__gcnt"),
        F.try_divide(
            F.sum("__bn").over(w) - F.col("__bn"),
            F.sum("__bd").over(w) - F.col("__bd"),
        ).alias("__ti"),
    )
    agg = loo.groupBy("__g").agg(
        F.sum("__rows").alias("n_rows"),
        F.first("__gcnt").alias("__gc"),
        F.first("__sn").alias("__tsn"),
        F.first("__sd").alias("__tsd"),
        F.avg("__ti").alias("__tm"),
        F.sum(F.col("__ti") * F.col("__ti")).alias("__tss"),
    )
    g = F.col("__gc").cast("double")
    # sum((ti - mean)^2) = sum(ti^2) - g*mean^2 (exact on the pinned
    # inputs up to double round; the final ROUND absorbs last-bit order)
    var = (
        (g - 1.0)
        / g
        * (F.col("__tss") - g * F.col("__tm") * F.col("__tm"))
    )
    theta = F.try_divide(F.col("__tsn"), F.col("__tsd"))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("__gc").cast("long").alias("n_buckets_observed"),
        F.round(theta + F.lit(1e-9), 6).alias("theta"),
        F.round(se + F.lit(1e-9), 6).alias("se_jack"),
        F.round((theta - z * se) + F.lit(1e-9), 6).alias("ci_lo"),
        F.round((theta + z * se) + F.lit(1e-9), 6).alias("ci_hi"),
    )


def mcnemar_test(
    df: DataFrame,
    a_correct_col: str,
    b_correct_col: str,
    crit: float = 3.841,
) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes — the correct way to
    compare two classifiers scored on the SAME rows (two quality
    filters, an old vs new language-ID model): only the discordant
    pairs carry information, and the continuity-corrected statistic is
    ``chi2 = (|n01 - n10| - 1)^2 / (n01 + n10)`` where n01 = A correct
    & B wrong, n10 = the reverse. Reports the statistic against a
    caller-supplied critical value (3.841 = 95% at 1 dof) rather than a
    p-value, so the verdict has no transcendental-CDF cross-engine
    surface (the srm_check convention). Zero discordant pairs => chi2
    0.0, not significant (the models are indistinguishable on this
    sample). Rows with a NULL in either column are excluded.

    One aggregate over boolean counts — integer-exact until the final
    division. Scale: a single global reduce (partial aggregation
    map-side; no shuffle wider than one row).
    """
    a = F.col(a_correct_col).cast("boolean")
    b = F.col(b_correct_col).cast("boolean")
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_if(a & ~b).alias("a_only_correct"),
        F.count_if(~a & b).alias("b_only_correct"),
    )
    d01, d10 = F.col("a_only_correct"), F.col("b_only_correct")
    num = (F.abs(d01 - d10) - 1) * (F.abs(d01 - d10) - 1)
    chi2 = F.coalesce(
        F.try_divide(num.cast("double"), (d01 + d10).cast("double")),
        F.lit(0.0),
    )
    return agg.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        d01.cast("long").alias("a_only_correct"),
        d10.cast("long").alias("b_only_correct"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
        (F.round(chi2 + F.lit(1e-9), 6) > crit).alias("significant"),
    )


def mann_whitney_u_by_group(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per group with exact
    average-rank ties and the tie-corrected normal approximation — the
    NONPARAMETRIC two-sample test for skewed pipeline metrics where
    Welch's t (already in this module) assumes too much: does class A's
    value distribution stochastically dominate class B's?

    Math kept half-integer-exact until the final division: per (group,
    value) tie cell of size t with ta class-A members, the doubled
    midrank ``2r`` comes from
    :func:`~mr_dice_spark.operators.ranks.rank_cells`, so
    ``2 R_a = sum(ta * 2r)``, ``U_a = R_a - na(na+1)/2``,
    ``mu = na*nb/2`` and the tie-corrected
    ``sigma^2 = na*nb/12 * ((N+1) - sum(t^3-t)/(N(N-1)))``;
    ``z = (U_a - mu -+ 0.5 continuity) / sigma``. Groups where either
    class is empty or sigma = 0 (all values tied) return NULL z — not
    testable, surfaced rather than faked.

    Scale shape: one hash aggregate to (group, value) tie cells, one
    group-partitioned cumulative window over them, one final aggregate
    — the same single exchange as auc_by_group.
    """
    cells = two_sample_cells(df, group_col, class_col, value_col, class_a)
    agg = cells.groupBy("__g").agg(
        F.sum("__t").alias("__nn"),
        F.sum("__ta").alias("__na"),
        F.sum(F.col("__ta") * F.col("__r2")).alias("__2ra"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__tie3"),
    )
    na, nn = F.col("__na"), F.col("__nn")
    nb = nn - na
    u2 = F.col("__2ra") - na * (na + 1)  # 2*U_a, integer-exact
    mu2 = na * nb  # 2*mu
    sigma2 = (
        na.cast("double")
        * nb.cast("double")
        / 12.0
        * (
            (nn + 1).cast("double")
            - F.try_divide(
                F.col("__tie3").cast("double"),
                (nn * (nn - 1)).cast("double"),
            )
        )
    )
    sigma = F.sqrt(sigma2)
    # continuity correction toward the null: subtract 0.5*sign(U - mu)
    diff2 = u2 - mu2  # 2*(U - mu), integer
    zstat = F.when((na == 0) | (nb == 0) | (sigma2 <= 0), F.lit(None)).otherwise(
        F.try_divide(
            (diff2.cast("double") - F.signum(diff2.cast("double"))) / 2.0,
            sigma,
        )
    )
    return agg.select(
        F.col("__g").alias(group_col),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        (u2.cast("double") / 2.0).alias("u_a"),
        (mu2.cast("double") / 2.0).alias("mu"),
        F.round(sigma + F.lit(1e-9), 6).alias("sigma"),
        F.round(zstat + F.lit(1e-9), 6).alias("z"),
    )


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k per query — the graded ranking-quality metric for
    retrieval/reranking evaluation (Järvelin & Kekäläinen):
    ``DCG = sum_{pos<=k} (2^rel - 1) / log2(pos + 1)`` over the SYSTEM
    order (score desc, id asc tiebreak — deterministic, so the metric
    is reproducible under score ties), IDCG the same sum over the IDEAL
    order (rel desc, id asc), ``ndcg = DCG / IDCG`` with 0.0 when the
    query has no relevant item (IDCG = 0 — conventionally scored zero
    rather than excluded, so a retrieval run over hopeless queries
    isn't silently flattered).

    Scale shape: two row_number windows sharing the query-key exchange,
    one hash aggregate. Relevance grades are small integers so
    ``2^rel - 1`` is exact; log2 is the only transcendental and the
    result is nudge-rounded (corpus FP convention).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    base = df.where(
        F.col(query_col).isNotNull() & F.col(rel_col).isNotNull()
    ).select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(rel_col).cast("int").alias("__r"),
    )
    sys_w = Window.partitionBy("__q").orderBy(
        F.col("__s").desc(), F.col("__id").asc()
    )
    ideal_w = Window.partitionBy("__q").orderBy(
        F.col("__r").desc(), F.col("__id").asc()
    )
    gain = F.pow(F.lit(2.0), F.col("__r").cast("double")) - 1.0
    pos_sys = F.row_number().over(sys_w)
    pos_ideal = F.row_number().over(ideal_w)
    terms = base.select(
        "__q",
        F.when(
            pos_sys <= k, gain / F.log2(pos_sys.cast("double") + 1.0)
        ).otherwise(0.0).alias("__dg"),
        F.when(
            pos_ideal <= k, gain / F.log2(pos_ideal.cast("double") + 1.0)
        ).otherwise(0.0).alias("__ig"),
    )
    agg = terms.groupBy("__q").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("__dg").alias("__dcg"),
        F.sum("__ig").alias("__idcg"),
    )
    return agg.select(
        F.col("__q").alias(query_col),
        F.col("n_items").cast("long").alias("n_items"),
        F.round(F.col("__dcg") + F.lit(1e-9), 6).alias("dcg"),
        F.round(F.col("__idcg") + F.lit(1e-9), 6).alias("idcg"),
        F.round(
            F.coalesce(F.try_divide(F.col("__dcg"), F.col("__idcg")), F.lit(0.0))
            + F.lit(1e-9),
            6,
        ).alias("ndcg"),
    )


def retrieval_eval_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Binary-relevance retrieval scorecard at cutoff k: MRR@k, hit
    rate@k, precision@k and recall@k averaged over evaluable queries —
    the flat-relevance metrics that complement :func:`ndcg_at_k`'s
    graded view and are what ANN/recall pipelines (the similarity
    family in this repo) actually report.

    Per query, items rank by (score desc, id asc) — deterministic under
    score ties, the ndcg convention. ``rr = 1/first_relevant_rank`` when
    that rank <= k else 0; ``hit = first_relevant_rank <= k``;
    ``precision@k = hits_in_top_k / k`` (the fixed-denominator form, so
    queries with fewer than k items are penalized, matching trec_eval);
    ``recall@k = hits_in_top_k / n_relevant``. Queries with NO relevant
    item are excluded from the averages (rr/recall are undefined there)
    but counted in ``n_queries`` so the exclusion is visible.

    Scale shape: one row_number window on the query-key exchange, one
    per-query hash aggregate sharing it, one 1-row reduce. Returns one
    row ``(k, n_queries, n_evaluable, mrr, hit_rate, precision_at_k,
    recall_at_k)``; the metric columns are NULL when no query is
    evaluable."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    base = df.where(
        F.col(query_col).isNotNull() & F.col(rel_col).isNotNull()
    ).select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(rel_col).cast("boolean").alias("__r"),
    )
    w = Window.partitionBy("__q").orderBy(F.col("__s").desc(), F.col("__id").asc())
    ranked = base.select("__q", "__r", F.row_number().over(w).alias("__pos"))
    per = ranked.groupBy("__q").agg(
        F.count_if(F.col("__r")).alias("__nrel"),
        F.min(F.when(F.col("__r"), F.col("__pos"))).alias("__first"),
        F.count_if(F.col("__r") & (F.col("__pos") <= k)).alias("__hits"),
    )
    ev = F.col("__nrel") > 0
    rr = F.when(
        F.col("__first") <= k, F.lit(1.0) / F.col("__first").cast("double")
    ).otherwise(0.0)
    out = per.agg(
        F.count(F.lit(1)).alias("__nq"),
        F.count_if(ev).alias("__nev"),
        F.avg(F.when(ev, rr)).alias("__mrr"),
        F.avg(F.when(ev, F.when(F.col("__first") <= k, 1.0).otherwise(0.0))).alias(
            "__hit"
        ),
        F.avg(
            F.when(ev, F.col("__hits").cast("double") / F.lit(float(k)))
        ).alias("__prec"),
        F.avg(
            F.when(
                ev, F.col("__hits").cast("double") / F.col("__nrel").cast("double")
            )
        ).alias("__rec"),
    )
    return out.select(
        F.lit(k).cast("long").alias("k"),
        F.col("__nq").cast("long").alias("n_queries"),
        F.col("__nev").cast("long").alias("n_evaluable"),
        F.round(F.col("__mrr") + F.lit(1e-9), 6).alias("mrr"),
        F.round(F.col("__hit") + F.lit(1e-9), 6).alias("hit_rate"),
        F.round(F.col("__prec") + F.lit(1e-9), 6).alias("precision_at_k"),
        F.round(F.col("__rec") + F.lit(1e-9), 6).alias("recall_at_k"),
    )


def two_proportion_z(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    arm_a,
    arm_b,
) -> DataFrame:
    """Pooled two-proportion z-test — the conversion-rate A/B readout
    (did arm A convert more than arm B?): ``z = (pa - pb) /
    sqrt(pp * (1 - pp) * (1/na + 1/nb))`` with the pooled rate
    ``pp = (xa + xb) / (na + nb)``. Integer counts until the final
    divisions; the STATISTIC is reported, not a p-value (no
    transcendental-CDF hash surface — the srm_check convention; 1.96 is
    the usual 95% two-sided critical value for callers). Degenerate
    pooled rates (0 or 1 — no variance) return NULL z. Rows whose arm
    is neither ``arm_a`` nor ``arm_b`` or whose success flag is NULL
    are excluded.

    One global conditional-count aggregate: map-side partials, a 1-row
    reduce — nothing shuffles wider than one row at any corpus size.
    """
    arm = F.col(arm_col)
    suc = F.col(success_col).cast("boolean")
    base = df.where(arm.isin([arm_a, arm_b]) & suc.isNotNull())
    agg = base.agg(
        F.count_if(arm == F.lit(arm_a)).alias("n_a"),
        F.count_if(arm == F.lit(arm_b)).alias("n_b"),
        F.count_if((arm == F.lit(arm_a)) & suc).alias("x_a"),
        F.count_if((arm == F.lit(arm_b)) & suc).alias("x_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = F.try_divide(xa, na), F.try_divide(xb, nb)
    pp = F.try_divide(xa + xb, na + nb)
    se = F.sqrt(pp * (1.0 - pp) * (F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb)))
    z = F.when((pp > 0) & (pp < 1), F.try_divide(pa - pb, se))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_a").cast("long").alias("x_a"),
        F.col("x_b").cast("long").alias("x_b"),
        F.round(pa + F.lit(1e-9), 6).alias("rate_a"),
        F.round(pb + F.lit(1e-9), 6).alias("rate_b"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def post_stratified_effect(
    df: DataFrame,
    arm_col: str,
    stratum_col: str,
    value_col: str,
    arm_a,
    arm_b,
) -> DataFrame:
    """Post-stratified treatment-effect readout — the other classic
    variance-reduction beside CUPED (Miratrix/Sekhon/Yu 2013): within
    each pre-experiment stratum the arm means difference, and strata
    combine with their COMBINED size share as weight, removing the
    between-stratum composition noise a raw diff-of-means carries.
    One row per stratum: ``(stratum, n_a, n_b, mean_a, mean_b, diff,
    weight, contribution)`` with ``contribution = weight * diff`` (sum
    = the post-stratified effect; the driver hashes the full per-stratum
    decomposition, which is also what a readout dashboard shows).
    Strata missing an arm get NULL diff/contribution — surfaced, not
    silently dropped (they bias the naive estimator; the caller decides).

    Parity: per-(stratum, arm) means are the only doubles; they pin at
    6 before the difference so diff/contribution are bit-identical
    across engines. One (stratum, arm)-key hash aggregate plus a
    broadcast total — nothing wider than the strata frame after it.
    """
    arm = F.col(arm_col)
    base = df.where(
        arm.isin([arm_a, arm_b])
        & F.col(stratum_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("__s"),
        (arm == F.lit(arm_a)).alias("__a"),
        F.col(value_col).cast("double").alias("__v"),
    )
    cells = base.groupBy("__s").agg(
        F.count_if(F.col("__a")).alias("n_a"),
        F.count_if(~F.col("__a")).alias("n_b"),
        F.round(F.avg(F.when(F.col("__a"), F.col("__v"))) + F.lit(1e-9), 6).alias(
            "mean_a"
        ),
        F.round(F.avg(F.when(~F.col("__a"), F.col("__v"))) + F.lit(1e-9), 6).alias(
            "mean_b"
        ),
    )
    tot = cells.agg(F.sum(F.col("n_a") + F.col("n_b")).alias("__n"))
    diff = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.col("mean_a") - F.col("mean_b"),
    )
    weight = F.round(
        (F.col("n_a") + F.col("n_b")) / F.col("__n") + F.lit(1e-9), 6
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("__s").alias(stratum_col),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "mean_a",
            "mean_b",
            F.round(diff + F.lit(1e-9), 6).alias("diff"),
            weight.alias("weight"),
            F.round(weight * diff + F.lit(1e-9), 6).alias("contribution"),
        )
    )


def difference_in_differences(
    df: DataFrame,
    arm_col: str,
    period_col: str,
    value_col: str,
    arm_treat,
    period_pre,
    period_post,
) -> DataFrame:
    """Two-group two-period difference-in-differences — the workhorse
    quasi-experimental readout when randomization wasn't possible (a
    staged rollout, a geo launch): the treatment effect is the change
    in the treated group MINUS the change in the control group,
    ``DiD = (mean_T_post - mean_T_pre) - (mean_C_post - mean_C_pre)``,
    which nets out both the fixed group gap and the common time trend
    (the parallel-trends assumption). SE is the unpooled four-cell
    Welch form ``sqrt(sum s2_cell / n_cell)`` and ``z = DiD / SE`` —
    the statistic, not a p-value (the srm_check convention).

    Arm semantics: ``arm == arm_treat`` is treated and EVERY other
    non-NULL arm is control — pre-filter to two arms if the frame
    carries more (a third arm would otherwise be averaged into
    control). Rows with a NULL arm, with a period that is neither
    ``period_pre`` nor ``period_post``, or with NULL value are
    excluded. Cell means pin at 6 dp before
    differencing and cell variances pin at 6 before the SE (the
    post_stratified_effect parity convention), so DiD and z are
    bit-identical across engines. DiD is NULL if any cell is empty; SE
    and z are NULL if any cell has n < 2.

    One global conditional-moment hash aggregate (count / sum / sum of
    squares per cell) — map-side partials, a 1-row reduce; nothing
    shuffles wider than one row at any corpus size.
    """
    arm, per = F.col(arm_col), F.col(period_col)
    base = df.where(
        arm.isNotNull()
        & per.isin([period_pre, period_post])
        & F.col(value_col).isNotNull()
    ).select(
        (arm == F.lit(arm_treat)).alias("__t"),
        (per == F.lit(period_post)).alias("__p"),
        F.col(value_col).cast("double").alias("__v"),
    )

    def _cell(t: bool, p: bool, tag: str):
        m = (F.col("__t") == t) & (F.col("__p") == p)
        return [
            F.count_if(m).alias(f"n_{tag}"),
            F.round(F.avg(F.when(m, F.col("__v"))) + F.lit(1e-9), 6).alias(
                f"mean_{tag}"
            ),
            F.round(
                F.var_samp(F.when(m, F.col("__v"))) + F.lit(1e-9), 6
            ).alias(f"__s2_{tag}"),
        ]

    agg = base.agg(
        *_cell(True, False, "t_pre"),
        *_cell(True, True, "t_post"),
        *_cell(False, False, "c_pre"),
        *_cell(False, True, "c_post"),
    )
    tags = ["t_pre", "t_post", "c_pre", "c_post"]
    all_nonempty = None
    all_var = None
    for tag in tags:
        ne = F.col(f"n_{tag}") > 0
        v2 = F.col(f"n_{tag}") >= 2
        all_nonempty = ne if all_nonempty is None else (all_nonempty & ne)
        all_var = v2 if all_var is None else (all_var & v2)
    did = F.when(
        all_nonempty,
        (F.col("mean_t_post") - F.col("mean_t_pre"))
        - (F.col("mean_c_post") - F.col("mean_c_pre")),
    )
    se = F.when(
        all_var,
        F.sqrt(
            sum(
                F.col(f"__s2_{tag}") / F.col(f"n_{tag}").cast("double")
                for tag in tags
            )
        ),
    )
    z = F.when(se > 0, did / se)
    return agg.select(
        *[F.col(f"n_{tag}").cast("long").alias(f"n_{tag}") for tag in tags],
        *[F.col(f"mean_{tag}") for tag in tags],
        F.round(did + F.lit(1e-9), 6).alias("did"),
        F.round(se + F.lit(1e-9), 6).alias("se"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel-Haenszel common odds ratio + Cochran-Mantel-Haenszel
    chi-squared over stratified 2x2 tables — the confounder-adjusted
    association readout (does exposure move the outcome once the
    stratifying covariate is netted out?) and the canonical guard
    against Simpson reversals that pooling the table would invite.
    With per-stratum cells ``a`` (exposed, outcome), ``b`` (exposed,
    no), ``c`` (unexposed, outcome), ``d`` (unexposed, no), ``n`` the
    stratum total: ``OR_MH = sum(a*d/n) / sum(b*c/n)``; the CMH
    statistic (uncorrected) is ``(sum a - sum E)^2 / sum V`` with
    ``E = (a+b)(a+c)/n`` and hypergeometric
    ``V = (a+b)(c+d)(a+c)(b+d) / (n^2 (n-1))`` (strata with n < 2
    contribute 0 to V); chi2 ~ chi2(1) under H0.

    Rows with NULL stratum/exposure/outcome are excluded. OR_MH is
    NULL when ``sum(b*c/n) = 0`` (no discordant mass — fail-closed);
    chi2 is NULL when ``sum V = 0``. Every term is a correctly-rounded
    IEEE step on exact per-stratum integers (the logrank argument), so
    only the final sums are order-dependent — absorbed by the output
    rounds.

    One (stratum) conditional-count hash aggregate bounded by the
    stratum domain, then a 1-row reduce — nothing wider than the
    strata frame at any corpus size. Returns one row ``(n_strata,
    n_total, or_mh, sum_a, expected_a, variance, chi2)``.
    """
    exp_, out_ = F.col(exposed_col).cast("boolean"), F.col(outcome_col).cast("boolean")
    cells = (
        df.where(
            F.col(stratum_col).isNotNull() & exp_.isNotNull() & out_.isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.count_if(exp_ & out_).alias("__a"),
            F.count_if(exp_ & ~out_).alias("__b"),
            F.count_if(~exp_ & out_).alias("__c"),
            F.count_if(~exp_ & ~out_).alias("__d"),
        )
    )
    n = (F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")).cast("double")
    a, b = F.col("__a").cast("double"), F.col("__b").cast("double")
    c, d = F.col("__c").cast("double"), F.col("__d").cast("double")
    ev = (a + b) * (a + c) / n
    vv = F.when(
        n > 1.0,
        (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0)),
    ).otherwise(F.lit(0.0))
    red = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(n).cast("long").alias("n_total"),
        F.sum(a * d / n).alias("__num"),
        F.sum(b * c / n).alias("__den"),
        F.sum(a).cast("long").alias("sum_a"),
        F.sum(ev).alias("__e"),
        F.sum(vv).alias("__v"),
    )
    or_mh = F.when(F.col("__den") > 0, F.col("__num") / F.col("__den"))
    dev = F.col("sum_a").cast("double") - F.col("__e")
    chi2 = F.when(F.col("__v") > 0, dev * dev / F.col("__v"))
    return red.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        "n_total",
        F.round(or_mh + F.lit(1e-9), 6).alias("or_mh"),
        "sum_a",
        F.round(F.col("__e") + F.lit(1e-9), 6).alias("expected_a"),
        F.round(F.col("__v") + F.lit(1e-9), 6).alias("variance"),
        F.round(chi2 + F.lit(1e-9), 4).alias("chi2"),
    )


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score interval for a proportion per group — the CI that
    stays inside [0, 1] and behaves at small n / extreme rates where
    the Wald interval collapses (Wilson 1927; what a quality dashboard
    should put around every pass-rate):

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    Closed form — no CDF, no transcendental beyond sqrt, so the bounds
    are oracle-restatable digit for digit. Groups with n = 0 never
    appear (no rows); NULL successes are excluded. One conditional
    count aggregate per group key.
    """
    suc = F.col(success_col).cast("boolean")
    agg = (
        df.where(F.col(group_col).isNotNull() & suc.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(suc).alias("x"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("x").cast("double") / n
    z2 = float(z) * float(z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        float(z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        F.round(p + F.lit(1e-9), 6).alias("rate"),
        F.round((center - half) + F.lit(1e-9), 6).alias("ci_lo"),
        F.round((center + half) + F.lit(1e-9), 6).alias("ci_hi"),
    )


def sprt_binary_monitor(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    success_col: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
    step_seconds: int = 3600,
) -> DataFrame:
    """Wald's sequential probability ratio test per group over time
    buckets — the always-on monitor that decides AS DATA ARRIVES whether
    a success rate sits at p0 (null) or has moved to p1, with
    guaranteed error rates and no fixed horizon (Wald 1945; the
    sequential complement of the fixed-horizon two_proportion_z):
    per bucket the log-likelihood increment is
    ``x*ln(p1/p0) + (n-x)*ln((1-p1)/(1-p0))``, the running sum crosses
    ``lower = ln(beta/(1-alpha))`` to accept H0 or
    ``upper = ln((1-beta)/alpha)`` to reject it, else 'continue'.
    Returns one row per (group, bucket): ``(group, bucket, n, x, llr,
    verdict)`` — the full monitoring trace, with the FIRST crossing
    visible as the earliest non-'continue' verdict (downstream alerting
    truncates there; the trace deliberately keeps post-crossing rows so
    the restatement is a pure window, not a stateful scan).

    Both engines compute the two log constants at runtime from the same
    double literals (never pre-folded in Python — a 1-ulp libm
    difference would amplify across the cumulative sum on one side
    only); the running llr rounds at 6 for the verdict and the hash.
    One (group, bucket) aggregate plus one group-keyed cumulative
    window.
    """
    if not 0.0 < p0 < 1.0 or not 0.0 < p1 < 1.0 or p0 == p1:
        raise ValueError(f"need distinct p0, p1 in (0,1): {p0}, {p1}")
    if not 0.0 < alpha < 1.0 or not 0.0 < beta < 1.0:
        raise ValueError(f"alpha/beta in (0,1): {alpha}, {beta}")
    suc = F.col(success_col).cast("boolean")
    base = df.where(
        F.col(group_col).isNotNull() & F.col(ts_col).isNotNull() & suc.isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.floor(F.unix_timestamp(ts_col) / step_seconds).cast("long").alias("__h"),
        suc.alias("__s"),
    )
    per = base.groupBy("__g", "__h").agg(
        F.count(F.lit(1)).alias("n"), F.count_if(F.col("__s")).alias("x")
    )
    win = F.log(F.lit(float(p1)) / F.lit(float(p0)))
    lose = F.log((F.lit(1.0) - F.lit(float(p1))) / (F.lit(1.0) - F.lit(float(p0))))
    inc = F.col("x") * win + (F.col("n") - F.col("x")) * lose
    w = (
        Window.partitionBy("__g")
        .orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lower = F.log(F.lit(float(beta)) / (F.lit(1.0) - F.lit(float(alpha))))
    upper = F.log((F.lit(1.0) - F.lit(float(beta))) / F.lit(float(alpha)))
    llr = F.round(F.sum(inc).over(w) + F.lit(1e-9), 6)
    return per.select(
        F.col("__g").alias(group_col),
        F.timestamp_seconds(F.col("__h") * step_seconds).alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        llr.alias("llr"),
        F.when(llr <= F.round(lower + F.lit(1e-9), 6), F.lit("accept_h0"))
        .when(llr >= F.round(upper + F.lit(1e-9), 6), F.lit("reject_h0"))
        .otherwise(F.lit("continue"))
        .alias("verdict"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    item_col: str,
    success_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-item success rates — the ranking fix for "this part has 1/1 =
    100% returns" small-sample noise (Robinson's classic EB batting
    average recipe): fit a Beta prior to the ITEM-LEVEL raw rates by
    moments, ``common = m(1-m)/v - 1, alpha = m*common,
    beta = (1-m)*common``, then ``shrunk = (x + alpha) / (n + alpha +
    beta)`` — items with little data pull toward the global mean, items
    with much data keep their own rate. When the moment fit is invalid
    (zero between-item variance, or v >= m(1-m) which would give a
    non-positive ``common``), the prior columns are NULL and ``shrunk``
    falls back to the raw rate — surfaced, not silently faked.

    Parity pinning: the prior moments m and v round at 9 before the
    algebra, so alpha/beta and every shrunk rate are bit-identical
    across engines. Two aggregates (item cells, 1-row moments) and a
    broadcast join — nothing wider than the item frame.
    """
    suc = F.col(success_col).cast("boolean")
    cells = (
        df.where(F.col(item_col).isNotNull() & suc.isNotNull())
        .groupBy(F.col(item_col).alias("__i"))
        .agg(F.count(F.lit(1)).alias("n"), F.count_if(suc).alias("x"))
        .withColumn("__r", F.col("x").cast("double") / F.col("n"))
    )
    mom = cells.agg(
        F.round(F.avg("__r") + F.lit(1e-9), 9).alias("__m"),
        F.round(F.var_pop("__r") + F.lit(1e-9), 9).alias("__v"),
    )
    m, v = F.col("__m"), F.col("__v")
    # v carries the +1e-9 rounding nudge, so an exactly-zero between-item
    # variance reads as exactly 1e-9 — the validity floor excludes it
    valid = (v > 1e-9) & (v < m * (1.0 - m))
    common = m * (1.0 - m) / v - 1.0
    alpha = F.when(valid, m * common)
    beta = F.when(valid, (1.0 - m) * common)
    out = cells.crossJoin(F.broadcast(mom))
    shrunk = F.when(
        valid,
        (F.col("x") + m * common) / (F.col("n") + common),
    ).otherwise(F.col("__r"))
    return out.select(
        F.col("__i").alias(item_col),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        F.round(F.col("__r") + F.lit(1e-9), 6).alias("raw_rate"),
        F.round(alpha + F.lit(1e-9), 6).alias("prior_alpha"),
        F.round(beta + F.lit(1e-9), 6).alias("prior_beta"),
        F.round(shrunk + F.lit(1e-9), 6).alias("shrunk_rate"),
    )


def rank_biased_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    rank_col: str,
    k: int,
    p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap between two top-k rankings
    (Webber, Moffat & Zobel 2010) — "how much do these two leaderboards
    agree, weighted toward the top?": with X_d = |A_1..d ∩ B_1..d|,

        RBO@k = (1 - p) * sum_{d=1..k} p^(d-1) * X_d / d

    (the truncated prefix form, no extrapolation — documented choice so
    the number is exactly reproducible). An item in both lists with
    ranks (ra, rb) enters every depth d >= max(ra, rb), so X_d is a
    cumulative count over max-rank; depths accumulate via a k x k
    triangle join on the literal depth spine (the ks_drift idiom — no
    single-partition window even on the tiny frame). Returns one row
    ``(k, p, n_common, agreement_at_k, rbo)``.

    Scale: the rankings are top-k inputs by contract (k is a dashboard
    constant); everything here is k-sized. Producing the rankings from
    100 TB is the caller's TakeOrdered.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0,1): {p}")
    a = df_a.select(F.col(id_col).alias("__id"), F.col(rank_col).alias("__ra"))
    b = df_b.select(F.col(id_col).alias("__id"), F.col(rank_col).alias("__rb"))
    both = (
        a.where(F.col("__ra") <= k)
        .join(b.where(F.col("__rb") <= k), "__id")
        .select(F.greatest("__ra", "__rb").alias("__md"))
    )
    counts = both.groupBy("__md").agg(F.count(F.lit(1)).alias("__c"))
    spine = df_a.sparkSession.range(1, k + 1).select(
        F.col("id").cast("int").alias("__d")
    )
    xd = (
        spine.join(
            F.broadcast(counts), F.col("__md") <= F.col("__d"), "left"
        )
        .groupBy("__d")
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__x"))
    )
    term = (
        F.pow(F.lit(float(p)), F.col("__d").cast("double") - 1.0)
        * F.col("__x").cast("double")
        / F.col("__d").cast("double")
    )
    agg = xd.agg(
        F.max(F.when(F.col("__d") == k, F.col("__x"))).alias("__xk"),
        F.sum(term).alias("__s"),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        F.lit(float(p)).alias("p"),
        F.col("__xk").cast("long").alias("n_common"),
        F.round(
            F.col("__xk").cast("double") / F.lit(float(k)) + F.lit(1e-9), 6
        ).alias("agreement_at_k"),
        F.round((1.0 - F.lit(float(p))) * F.col("__s") + F.lit(1e-9), 6).alias(
            "rbo"
        ),
    )


def average_precision_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group average precision (area under the precision-recall
    curve) of ``score_col`` against boolean ``label_col`` — the AUC
    companion that class imbalance can't flatter (a 0.1%-positive
    corpus scores ~0.999 ROC-AUC with a mediocre ranker; its AP stays
    near the base rate).

    Threshold-block formulation (the sklearn ``average_precision_score``
    step-interpolation, which is also the unique tie-safe one): collapse
    to DISTINCT score blocks per group, cumulative tp/fp down the score
    (descending), then ``AP = sum_t (tp_t / P) * precision_t`` where
    ``precision_t = cum_tp_t / (cum_tp_t + cum_fp_t)``. Ties share one
    block, so row order below a tied score can't change the result.

    Plan: one hash aggregate onto (group, score) blocks, ONE exchange
    for the per-group cumulative window over those blocks (bounded by
    distinct scores, not rows), one final aggregate. Groups with no
    positives return NULL ap. Returns ``(group, n_pos, n_neg, ap)``
    with ap nudge-rounded to 6.
    """
    y = F.col(label_col).cast("boolean")
    blocks = (
        df.select(
            F.col(group_col).alias("__g"),
            F.col(score_col).cast("double").alias("__s"),
            y.alias("__y"),
        )
        .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__g", "__s")
        .agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).alias("__tp"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    w = (
        Window.partitionBy("__g")
        .orderBy(F.col("__s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # doubles before any product/cumsum: the count products stay exact
    # below 2^52 and ANSI mode can't abort on an int64 overflow
    cum = blocks.select(
        "__g",
        F.col("__tp").cast("double").alias("__tp"),
        F.col("__n").cast("double").alias("__n"),
        F.sum(F.col("__tp").cast("double")).over(w).alias("__ctp"),
        F.sum(F.col("__n").cast("double")).over(w).alias("__cn"),
    )
    agg = cum.groupBy("__g").agg(
        F.sum("__tp").alias("__p"),
        F.sum(F.col("__n") - F.col("__tp")).alias("__f"),
        F.sum(F.col("__tp") * F.col("__ctp") / F.col("__cn")).alias("__num"),
    )
    ap = F.when(F.col("__p") > 0, F.col("__num") / F.col("__p"))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__p").cast("long").alias("n_pos"),
        F.col("__f").cast("long").alias("n_neg"),
        F.round(ap + F.lit(1e-9), 6).alias("ap"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score for a probabilistic
    forecast ``score_col`` in [0, 1] against boolean ``label_col``:
    ``reliability`` (calibration gap, lower better), ``resolution``
    (how far bin outcome rates move from the base rate, higher better),
    ``uncertainty`` (base-rate variance, the no-skill floor), plus the
    raw per-row ``brier``. For the BINNED forecaster (each score
    replaced by its bin's mean outcome frequency argument s_bar_k) the
    identity ``brier_binned = reliability - resolution + uncertainty``
    is exact; the raw brier differs by the within-bin variance and
    covariance terms, which is why both are reported.

    Plan: one hash aggregate onto the bin key, materialized ONCE at
    <= ``n_bins`` rows (localCheckpoint — two frames derive from it, and
    without the pin each branch re-plans the full corpus scan, the
    chi-square lesson); then a 1-row total broadcast back onto the bin
    frame for the resolution term. No window; brier moments ride the
    same bin aggregate. Scores are expected in [0, 1]; out-of-range
    scores clamp to the edge bins (the calibration_bins convention) but
    still enter sbar/brier at their raw value. Returns one row
    ``(n, base_rate, brier, reliability, resolution, uncertainty)``
    nudge-rounded to 6.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    # Filter on the RAW label before the 0/1 coercion: when(y,1).otherwise(0)
    # maps NULL labels to 0.0, so filtering the coerced column was dead code
    # and NULL outcomes silently counted as negatives (ADVICE r7) —
    # contradicting the repo-wide exclude-NULLs convention.
    base = df.where(s.isNotNull() & y.isNotNull()).select(
        s.alias("__s"),
        F.when(y, 1.0).otherwise(0.0).alias("__y"),
    )
    k = F.greatest(
        F.lit(0),
        F.least(F.lit(n_bins - 1), F.floor(F.col("__s") * F.lit(float(n_bins)))),
    ).cast("int")
    bins = (
        base.groupBy(k.alias("__k"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("__nk"),
            F.avg("__s").alias("__sbar"),
            F.avg("__y").alias("__obar"),
            F.sum(
                (F.col("__s") - F.col("__y")) * (F.col("__s") - F.col("__y"))
            ).alias("__se"),
        )
        # materialize the tiny bin table once: the totals branch and the
        # resolution branch both derive from it, and without the pin each
        # re-plans the full corpus scan
        .localCheckpoint(eager=True)
    )
    tot = bins.agg(
        F.sum("__nk").alias("__n"),
        (F.sum(F.col("__nk") * F.col("__obar")) / F.sum("__nk")).alias("__o"),
        F.sum("__se").alias("__sse"),
        F.sum(
            F.col("__nk")
            * (F.col("__sbar") - F.col("__obar"))
            * (F.col("__sbar") - F.col("__obar"))
        ).alias("__rel"),
    )
    # resolution needs obar before it's known -> second tiny pass over the
    # <= n_bins aggregate rows via a broadcast of the 1-row total
    joined = bins.crossJoin(F.broadcast(tot.select("__n", "__o", "__sse", "__rel")))
    out = joined.agg(
        F.max("__n").alias("__n"),
        F.max("__o").alias("__o"),
        F.max("__sse").alias("__sse"),
        F.max("__rel").alias("__relsum"),
        F.sum(
            F.col("__nk")
            * (F.col("__obar") - F.col("__o"))
            * (F.col("__obar") - F.col("__o"))
        ).alias("__ressum"),
    )
    n = F.col("__n")
    return out.select(
        n.cast("long").alias("n"),
        F.round(F.col("__o") + F.lit(1e-9), 6).alias("base_rate"),
        F.round(F.col("__sse") / n + F.lit(1e-9), 6).alias("brier"),
        F.round(F.col("__relsum") / n + F.lit(1e-9), 6).alias("reliability"),
        F.round(F.col("__ressum") / n + F.lit(1e-9), 6).alias("resolution"),
        F.round(F.col("__o") * (1.0 - F.col("__o")) + F.lit(1e-9), 6).alias(
            "uncertainty"
        ),
    )


def decile_lift_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    tiebreak_col: str,
    n_tiles: int = 10,
) -> DataFrame:
    """Per-group lift/gains table: rank rows by ``score_col`` descending
    within each group, cut into ``n_tiles`` equal-count tiles (NTILE
    semantics — earlier tiles absorb the remainder), and report each
    tile's positive rate, lift over the group base rate, and cumulative
    gain (share of all positives captured through that tile) — the
    'how deep do I have to dip into the ranked corpus' readout that
    AP/AUC compress away.

    ``tiebreak_col`` must be group-unique (an id); it makes the NTILE
    cut deterministic under tied scores on both engines. Plan: one
    exchange on the group key shared by the NTILE window (per-group
    sort, bounded by the largest group — the auc_by_group contract:
    group by shard/day/lang, don't feed one global group), one hash
    aggregate onto (group, tile), then per-group totals via a second
    window over the <= n_tiles aggregate rows (bounded by the literal).
    Returns ``(group, tile, n, n_pos, rate, lift, cum_gain)``.
    """
    w = Window.partitionBy("__g").orderBy(
        F.col("__s").desc(), F.col("__t").asc()
    )
    # Exclude rows with NULL label/group/tiebreak BEFORE the NTILE window
    # (ADVICE r7): the 0/1 coercion would count NULL labels as negatives,
    # and a NULL group would leak a NULL partition into the output —
    # matching average_precision_by_group's handling. The label filter is
    # on the CAST value, not the raw column: a non-NULL label that casts
    # to NULL boolean (e.g. an unparseable string) must also be excluded,
    # not coerced to a negative.
    base = df.where(
        F.col(score_col).cast("double").isNotNull()
        & F.col(label_col).cast("boolean").isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(tiebreak_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("double").alias("__s"),
        F.when(F.col(label_col).cast("boolean"), 1.0).otherwise(0.0).alias("__y"),
        F.col(tiebreak_col).alias("__t"),
    )
    tiles = (
        base.select("__g", "__y", F.ntile(n_tiles).over(w).alias("tile"))
        .groupBy("__g", "tile")
        .agg(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum("__y").alias("__pos"),
        )
    )
    wg = Window.partitionBy("__g")
    wc = (
        Window.partitionBy("__g")
        .orderBy("tile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_n, tot_p = F.sum("__n").over(wg), F.sum("__pos").over(wg)
    rate = F.col("__pos") / F.col("__n")
    return tiles.select(
        F.col("__g").alias(group_col),
        F.col("tile").cast("int").alias("tile"),
        F.col("__n").cast("long").alias("n"),
        F.col("__pos").cast("long").alias("n_pos"),
        F.round(rate + F.lit(1e-9), 6).alias("rate"),
        F.round(F.try_divide(rate, tot_p / tot_n) + F.lit(1e-9), 6).alias("lift"),
        F.round(
            F.try_divide(F.sum("__pos").over(wc), tot_p) + F.lit(1e-9), 6
        ).alias("cum_gain"),
    )


def effect_sizes(
    df: DataFrame,
    group_col: str,
    split_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group standardized mean-difference effect sizes between the
    rows where boolean ``split_col`` is true (sample 1) and false
    (sample 2): Cohen's d on the pooled sample SD and Hedges' g (the
    small-sample bias correction ``J = 1 - 3/(4*(n1+n2) - 9)``) — the
    "how big, in units everyone can compare" readout that belongs next
    to :func:`welch_t_test`'s "is it real" and
    :func:`covariate_balance_smd`'s pre-experiment balance check (SMD
    uses the unpooled two-group SD; Cohen's d is the pooled-variance
    convention effect-size reports expect).

    ``d = (m1 - m2) / sp`` with ``sp = sqrt(((n1-1)*v1 + (n2-1)*v2) /
    (n1 + n2 - 2))`` on sample variances. d/g are NULL when either
    sample has n < 2 or the pooled variance is 0 (fail-closed, the
    welch convention). NULL group/split/value rows are excluded.

    Scale shape: ONE hash aggregate per group (conditional moments for
    both samples in a single pass), no window, no second scan. Returns
    ``(group, n1, n2, mean_diff, pooled_sd, cohens_d, hedges_g)``
    nudge-rounded at 6.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(split_col).cast("boolean").alias("__s"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(split_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    v1 = F.when(F.col("__s"), F.col("__v"))
    v2 = F.when(~F.col("__s"), F.col("__v"))
    agg = base.groupBy("__g").agg(
        F.count(v1).alias("n1"),
        F.count(v2).alias("n2"),
        F.avg(v1).alias("__m1"),
        F.avg(v2).alias("__m2"),
        F.var_samp(v1).alias("__v1"),
        F.var_samp(v2).alias("__v2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    ok = (F.col("n1") > 1) & (F.col("n2") > 1)
    sp = F.sqrt(
        ((n1 - 1.0) * F.col("__v1") + (n2 - 1.0) * F.col("__v2"))
        / (n1 + n2 - 2.0)
    )
    d = F.when(ok & (sp > 0), (F.col("__m1") - F.col("__m2")) / sp)
    j = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)
    return agg.select(
        F.col("__g").alias(group_col),
        "n1",
        "n2",
        F.round(F.col("__m1") - F.col("__m2") + F.lit(1e-9), 6).alias("mean_diff"),
        F.round(sp + F.lit(1e-9), 6).alias("pooled_sd"),
        F.round(d + F.lit(1e-9), 6).alias("cohens_d"),
        F.round(d * j + F.lit(1e-9), 6).alias("hedges_g"),
    )


def benjamini_hochberg(
    df: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a table of
    hypotheses: given one row per test with a valid p-value (or any
    conservative p-bound — BH keeps its FDR guarantee under them, so
    the distribution-free Chebyshev bound ``min(1, 1/z^2)`` this repo's
    z-statistics can feed is legitimate input), report each test's
    rank, BH-adjusted q-value ``q_i = min(1, min_{j>=i} m*p_(j)/j)``
    and the reject flag ``q_i <= alpha`` — the multiple-comparisons
    gate a metrics platform needs the moment it slices one experiment
    into dozens of subgroup readouts.

    Reduced-frame contract (the theil_sen convention): the input is a
    HYPOTHESES table — one row per test, thousands at most — never raw
    events; the monotonization self-join below is |cells|^2 over the
    distinct p-values of that table. Rows with NULL test or with p
    outside [0, 1] (including NULL) are excluded.

    Cross-engine determinism: ranks are exact integers from the
    tie-collapsed prefix pass (tied p-values share the LARGEST rank in
    their tie run — equivalent for q-values, since the suffix-min makes
    every member of a tie inherit the same q); ``m*p/rank`` is a fixed
    chain of correctly-rounded IEEE ops on identical operands, so the
    unrounded q and the reject decision are bit-identical in SQL. The
    output q is nudge-rounded for display AFTER the flag is computed.

    Scale shape: one distinct-p aggregate, one
    :func:`~mr_dice_spark.operators.scale.prefix_sums` pass for ranks
    (no single-partition window even if someone does feed a large
    frame), the quadratic-in-cells suffix-min join, one join back to
    the test rows. Returns ``(test, p, rank, m, q_bh, reject)``.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"benjamini_hochberg: need 0 < alpha < 1, got {alpha}")
    from mr_dice_spark.operators.scale import prefix_sums

    base = (
        df.select(
            F.col(test_col).alias("__t"), F.col(p_col).cast("double").alias("__p")
        )
        .where(
            F.col(test_col).isNotNull()
            & F.col(p_col).isNotNull()
            & (F.col(p_col).cast("double") >= 0.0)
            & (F.col(p_col).cast("double") <= 1.0)
        )
        # pin the hypotheses frame: it feeds the cell aggregate, both
        # sides of the monotonization, AND the final join-back — without
        # the pin each branch re-plans the caller's (often corpus-sized)
        # p-value derivation; with it the upstream lineage runs exactly
        # once and every branch reads the tiny materialized test table
        .localCheckpoint(eager=True)
    )
    cells = base.groupBy("__p").agg(F.count(F.lit(1)).alias("__c"))
    ranked = prefix_sums(cells, "__p", ["__c"]).select(
        "__p", F.col("__c_cum").alias("__r")
    )
    tot = ranked.agg(F.max("__r").alias("__m")).localCheckpoint(eager=True)
    qraw = ranked.crossJoin(F.broadcast(tot)).select(
        "__p",
        "__r",
        "__m",
        (F.col("__m") * F.col("__p") / F.col("__r").cast("double")).alias("__q"),
    )
    # suffix-min over the p-ordered cells: q_adj(i) = min over j >= i of
    # q_raw(j), capped at 1 — |cells|^2 pairs on the reduced frame; the
    # broadcast keeps the non-equi join a BroadcastNestedLoopJoin (each
    # task streams its cells against the tiny replicated side) instead
    # of a CartesianProduct shuffle
    a, b = qraw.alias("a"), qraw.alias("b")
    adj = (
        a.join(F.broadcast(b), F.col("b.__p") >= F.col("a.__p"))
        .groupBy(F.col("a.__p").alias("__p"), F.col("a.__r").alias("__r"),
                 F.col("a.__m").alias("__m"))
        .agg(F.least(F.min(F.col("b.__q")), F.lit(1.0)).alias("__qadj"))
    )
    out = base.join(adj, "__p")
    return out.select(
        F.col("__t").alias(test_col),
        # 1e-12 nudge: sub-grid for the 9dp round (a 1e-9 nudge EQUALS
        # the grid step and would echo every p one step inflated, with
        # p = 1.0 coming back as 1.000000001)
        F.round(F.col("__p") + F.lit(1e-12), 9).alias("p_value"),
        F.col("__r").cast("long").alias("rank"),
        F.col("__m").cast("long").alias("m_tests"),
        F.round(F.col("__qadj") + F.lit(1e-9), 6).alias("q_bh"),
        (F.col("__qadj") <= F.lit(float(alpha))).alias("reject"),
    )


def _panel_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
    value: Column,
    aliases: tuple[str, str, str],
) -> DataFrame:
    """The pinned ``(row, col) -> value`` cells of a two-way panel, named
    by ``aliases``. Rows whose row, col or CAST ``value`` is NULL are
    excluded (filtering on the cast value, the decile_lift convention:
    a non-NULL input that casts to NULL is dropped, never left as a
    NULL inside a cell); duplicate ``(row, col)`` observations collapse
    by MAX. The cells are pinned with ``localCheckpoint(eager=True)``
    because every consumer derives several branches from them."""
    r, c, v = aliases
    return (
        df.where(
            F.col(row_col).isNotNull()
            & F.col(col_col).isNotNull()
            & value.isNotNull()
        )
        .groupBy(F.col(row_col).alias(r), F.col(col_col).alias(c))
        .agg(F.max(value).alias(v))
        .localCheckpoint(eager=True)
    )


# the two panel layouts: (row, col, value) cell aliases, and the nouns
# of the ragged-panel error "every <row> must <verb> every <col>"
_RATER_PANEL = (("__j", "__i", "__s"), ("rater", "score", "item"))
_BLOCK_PANEL = (("__b", "__t", "__s"), ("block", "hold", "treatment"))


def _complete_panel(
    df: DataFrame,
    op: str,
    row_col: str,
    col_col: str,
    value_col: str,
    layout: tuple[tuple[str, str, str], tuple[str, str, str]],
    **probe,
):
    """The complete-panel contract of the blocked-design and agreement
    tests (kendalls_w, friedman_test, icc_two_way, quade_test,
    page_trend_test): every row must hold every col exactly once.

    Stages :func:`_panel_cells` on the double-cast ``value_col``, then
    runs ONE eager 1-row shape probe over the pinned cells: distinct
    rows, distinct cols, the cell count, plus the ``probe`` aggregates
    (name -> Column) a caller rides on the same job. A ragged panel
    (cells != rows x cols) raises ``ValueError`` naming ``op`` — a
    statistic over a ragged panel would be silently wrong, so the
    check cannot be deferred, and construction runs Spark jobs (the
    pin and the probe). Returns ``(cells, n_rows, n_cols, shape)``
    where ``shape`` is the probe row; ``n_rows == 0`` means the input
    was empty after NULL filtering, and the caller returns its
    fail-closed 1-row NULL frame.
    """
    aliases, (row, verb, col) = layout
    obs = _panel_cells(
        df, row_col, col_col, F.col(value_col).cast("double"), aliases
    )
    shape = obs.agg(
        F.countDistinct(aliases[0]).alias("__rows"),
        F.countDistinct(aliases[1]).alias("__cols"),
        F.count(F.lit(1)).alias("__cells"),
        *(e.alias(name) for name, e in probe.items()),
    ).first()
    rows, cols, cells = shape["__rows"], shape["__cols"], shape["__cells"]
    if cells != rows * cols:
        raise ValueError(
            f"{op}: ragged panel — {cells} ({row}, {col}) cells for "
            f"{rows} {row}s x {cols} {col}s; every {row} must {verb} "
            f"every {col}"
        )
    return obs, rows, cols, shape


def cochran_q(
    df: DataFrame,
    unit_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran's Q test on PAIRED k-treatment binary outcomes — the
    k-way generalization of :func:`mcnemar_test`: do k classifiers /
    filters / prompts scored on the SAME units share one success rate?
    ``Q = (k-1) * (k*sum(Cj^2) - T^2) / (k*T - sum(Ri^2))`` where Cj is
    treatment j's success count, Ri unit i's success count and
    ``T = sum(Cj) = sum(Ri)``; Q ~ chi2(k-1) under H0. Every quantity
    is an exact integer until the single closing division, so the SQL
    restatement is bit-identical.

    A missing (unit, treatment) observation counts as a failure
    (outcome 0) — the complete-block design Cochran's Q assumes is
    enforced by construction rather than by dropping units, and the
    docstring-level contract is that callers score every unit on every
    treatment. Duplicate (unit, treatment) rows collapse by MAX (any
    success counts). NULL unit/treatment/outcome rows are excluded.
    Q is NULL when the denominator is 0 (every unit constant across
    treatments — no discordance, nothing to test; fail-closed).

    Scale shape: one (unit, treatment) max-aggregate, a unit-keyed and
    a treatment-keyed aggregate over those cells (both bounded by their
    key domains), two 1-row reduces joined by broadcast. Returns one
    row ``(n_units, k_treatments, total_successes, q_stat, df)``.
    """
    cells = _panel_cells(
        df,
        unit_col,
        treatment_col,
        F.col(outcome_col).cast("boolean").cast("int"),
        ("__u", "__j", "__x"),
    )
    per_t = cells.groupBy("__j").agg(F.sum("__x").alias("__cj"))
    per_u = cells.groupBy("__u").agg(F.sum("__x").alias("__ri"))
    tt = per_t.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__cj").alias("__tsum"),
        F.sum(F.col("__cj") * F.col("__cj")).alias("__c2"),
    )
    uu = per_u.agg(
        F.count(F.lit(1)).alias("__nu"),
        F.sum(F.col("__ri") * F.col("__ri")).alias("__r2"),
    )
    out = tt.crossJoin(F.broadcast(uu))
    k = F.col("__k").cast("double")
    t = F.col("__tsum").cast("double")
    num = (k - 1.0) * (k * F.col("__c2").cast("double") - t * t)
    den = k * t - F.col("__r2").cast("double")
    return out.select(
        F.col("__nu").cast("long").alias("n_units"),
        F.col("__k").cast("long").alias("k_treatments"),
        F.col("__tsum").cast("long").alias("total_successes"),
        F.round(F.when(den > 0, num / den) + F.lit(1e-9), 6).alias("q_stat"),
        (F.col("__k") - 1).cast("long").alias("df"),
    )


def fleiss_kappa(
    df: DataFrame,
    unit_col: str,
    label_col: str,
) -> DataFrame:
    """Fleiss' kappa for a FIXED-SIZE rater panel on nominal labels —
    the agreement statistic labeling vendors quote when every item gets
    exactly n ratings (between :func:`cohens_kappa`'s two named raters
    and :func:`krippendorff_alpha_nominal`'s anything-goes generality):
    ``kappa = (Po - Pe) / (1 - Pe)`` with ``Po = (sum_uc m_uc^2 - N*n) /
    (N*n*(n-1))`` and ``Pe = sum_c (n_c / (N*n))^2``.

    The equal-ratings design is VALIDATED, not assumed: if units carry
    different rating counts the operator fails fast with the observed
    counts (Fleiss' formula is simply wrong on ragged panels — use
    Krippendorff there). The check is one 1-row aggregate, which means
    THIS OPERATOR EXECUTES SPARK JOBS EAGERLY at construction (the
    cell pin plus the shape probe) — unlike the lazy evaluation
    siblings; panel validation cannot be deferred without silently
    computing a wrong statistic. NULL unit/label rows are excluded.
    Empty input (no rated units after NULL filtering) returns the
    fail-closed 1-row NULL frame ``(0, NULL, NULL, NULL, NULL)``
    rather than raising — only the genuinely wrong panel shapes
    (ragged counts, single-rater panels) throw. kappa is NULL when
    Pe = 1 (all ratings one label on one unit-class; fail-closed).

    Scale shape: the krippendorff shape — one (unit, label) cell
    aggregate (pinned: three branches derive), unit- and label-keyed
    aggregates over it, a closing broadcast of two 1-row frames.
    Returns one row ``(n_units, n_raters, p_o, p_e, kappa)``
    nudge-rounded at 6.
    """
    cells = (
        df.where(F.col(unit_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(unit_col).alias("__u"), F.col(label_col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__m"))
        .localCheckpoint(eager=True)
    )
    units = cells.groupBy("__u").agg(
        F.sum("__m").alias("__nu"),
        F.sum(F.col("__m") * F.col("__m")).alias("__sq"),
    )
    shape = units.agg(
        F.count(F.lit(1)).alias("__nunits"),
        F.min("__nu").alias("__lo"),
        F.max("__nu").alias("__hi"),
        F.sum("__sq").alias("__ssq"),
    ).first()
    if shape["__nunits"] == 0:
        return df.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("n_units"),
            F.lit(None).cast("long").alias("n_raters"),
            F.lit(None).cast("double").alias("p_o"),
            F.lit(None).cast("double").alias("p_e"),
            F.lit(None).cast("double").alias("kappa"),
        )
    if shape["__lo"] != shape["__hi"]:
        raise ValueError(
            "fleiss_kappa: ragged rating counts per unit "
            f"(min {shape['__lo']}, max {shape['__hi']}) — Fleiss' formula "
            "requires an equal-size panel; use krippendorff_alpha_nominal"
        )
    n_units, n_raters, ssq = shape["__nunits"], shape["__lo"], shape["__ssq"]
    if n_raters < 2:
        raise ValueError("fleiss_kappa: need >= 2 ratings per unit")
    labels = cells.groupBy("__c").agg(F.sum("__m").alias("__nc"))
    tot = float(n_units) * float(n_raters)
    pe_df = labels.agg(
        F.sum(
            (F.col("__nc").cast("double") / F.lit(tot))
            * (F.col("__nc").cast("double") / F.lit(tot))
        ).alias("__pe")
    )
    po = (float(ssq) - tot) / (tot * (float(n_raters) - 1.0))
    kappa = F.when(
        F.col("__pe") < 1.0,
        (F.lit(po) - F.col("__pe")) / (1.0 - F.col("__pe")),
    )
    return pe_df.select(
        F.lit(n_units).cast("long").alias("n_units"),
        F.lit(int(n_raters)).cast("long").alias("n_raters"),
        F.round(F.lit(po) + F.lit(1e-9), 6).alias("p_o"),
        F.round(F.col("__pe") + F.lit(1e-9), 6).alias("p_e"),
        F.round(kappa + F.lit(1e-9), 6).alias("kappa"),
    )


def kendalls_w(
    df: DataFrame,
    rater_col: str,
    item_col: str,
    score_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W with tie correction — do
    m raters (models, metrics, days) RANK n items the same way? The
    ordinal completion of the agreement family: Fleiss/Krippendorff
    score nominal label matches, Kendall's tau-b compares two rankers,
    W scores a whole panel's rank agreement in [0, 1] (1 = identical
    orderings). With per-rater midranks r_ij (ties share the average
    rank), item rank sums R_i and m raters over n items:

        S = sum_i (R_i - m(n+1)/2)^2
        W = 12 S / (m^2 (n^3 - n) - m * sum_j T_j),  T_j = sum(t^3 - t)

    over rater j's tie runs of length t.

    Complete-panel contract: :func:`_complete_panel` (every rater
    scores every item; it runs Spark jobs at construction). Empty
    input returns ``(0, 0, NULL, NULL, NULL)``. W is NULL when n < 2
    or when every rater's scores are fully tied (the correction
    zeroes the denominator — nothing is ranked; fail-closed).

    Cross-engine determinism: midranks are
    :func:`~mr_dice_spark.operators.ranks.rank_cells` doubled midranks
    over (rater, score) cells, halved — exact integers-plus-halves; S
    and both correction terms are exact integer-valued doubles, so W is
    one correctly-rounded division.

    Scale shape: a (rater, item) max-aggregate, rank_cells' (rater,
    score) cell aggregate + rater-partitioned window (bounded by each
    rater's item count), one join back
    on (rater, score), an item-keyed and a rater-keyed aggregate, and
    1-row reduces meeting by broadcast. Returns one row
    ``(m_raters, n_items, s_stat, tie_correction, w)``.
    """
    obs, m, n, _ = _complete_panel(
        df, "kendalls_w", rater_col, item_col, score_col, _RATER_PANEL
    )
    if m == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None, None)],
            "m_raters long, n_items long, s_stat double, "
            "tie_correction double, w double",
        )
    ranked = rank_cells(obs, ["__j"], "__s")
    with_ranks = obs.join(
        ranked.select("__j", "__s", (F.col("__r2") / 2.0).alias("__r")),
        ["__j", "__s"],
    )
    mean_r = float(m) * (float(n) + 1.0) / 2.0
    s1 = (
        with_ranks.groupBy("__i")
        .agg(F.sum("__r").alias("__ri"))
        .agg(
            F.sum(
                (F.col("__ri") - F.lit(mean_r)) * (F.col("__ri") - F.lit(mean_r))
            ).alias("__S")
        )
    )
    tt = F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
    t1 = ranked.agg(F.coalesce(F.sum(tt), F.lit(0)).cast("double").alias("__T"))
    # two 1-row reduces meet by broadcast; W stays a live plan (the
    # cochran_q convention) rather than a collected scalar
    joined = s1.crossJoin(F.broadcast(t1))
    denom = (
        F.lit(float(m) * m * (float(n) ** 3 - n)) - F.lit(float(m)) * F.col("__T")
    )
    w_expr = F.when(
        (F.lit(int(n)) >= 2) & (denom > 0), 12.0 * F.col("__S") / denom
    )
    return joined.select(
        F.lit(int(m)).cast("long").alias("m_raters"),
        F.lit(int(n)).cast("long").alias("n_items"),
        F.round(F.col("__S") + F.lit(1e-9), 6).alias("s_stat"),
        F.round(F.col("__T") + F.lit(1e-9), 6).alias("tie_correction"),
        F.round(w_expr + F.lit(1e-9), 6).alias("w"),
    )


def uplift_curve_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    tiebreak_col: str,
    n_tiles: int = 10,
) -> DataFrame:
    """Per-group Qini-style uplift curve: within each group, rank units
    by a targeting model's score descending, cut into ``n_tiles``
    equal-count tiles (NTILE), and for each cumulative depth report the
    INCREMENTAL outcomes attributable to treatment,
    ``uplift_k = Yt_k - Yc_k * Nt_k / Nc_k`` (treated successes minus
    control successes scaled to the treated exposure), against the
    random-targeting baseline ``random_k = uplift_n * N_k / N`` — the
    readout that tells a campaign how deep to target when the model
    scores INCREMENTAL responders, which decile_lift (outcome-only)
    cannot distinguish from always-buyers.

    ``tiebreak_col`` must be group-unique (an id): it makes the NTILE
    cut deterministic under tied scores on both engines. Rows with
    NULL group/score/treatment/outcome/tiebreak are excluded; outcomes
    cast to 0/1 via boolean (ANSI: unparseable outcomes fail loudly).
    Depths with no control units yet report NULL uplift (no basis for
    scaling — fail-closed); groups with no control at all report NULL
    everywhere uplift appears.

    Cross-engine determinism: every count is an exact integer from the
    tile aggregate and cumulative windows over <= n_tiles rows per
    group; uplift/random are fixed IEEE chains on those integers,
    rounded at 6dp on output.

    Scale shape: one exchange on the group key shared by the NTILE
    window (per-group sort, bounded by the largest group — the
    decile_lift/auc_by_group contract: group by shard/day/segment,
    don't feed one global group), one (group, tile) aggregate, then
    cumulative windows over the <= n_tiles rows per group. Returns
    ``(group, tile, n_treat, n_ctrl, y_treat, y_ctrl, cum_uplift,
    cum_random)``.
    """
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(score_col).cast("double").isNotNull()
        & F.col(treat_col).cast("boolean").isNotNull()
        & F.col(outcome_col).cast("boolean").isNotNull()
        & F.col(tiebreak_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("double").alias("__s"),
        F.col(treat_col).cast("boolean").alias("__t"),
        F.col(outcome_col).cast("boolean").cast("int").alias("__y"),
        F.col(tiebreak_col).alias("__id"),
    )
    w = Window.partitionBy("__g").orderBy(F.col("__s").desc(), F.col("__id").asc())
    tiles = (
        base.select("__g", "__t", "__y", F.ntile(n_tiles).over(w).alias("tile"))
        .groupBy("__g", "tile")
        .agg(
            F.count_if(F.col("__t")).alias("n_treat"),
            F.count_if(~F.col("__t")).alias("n_ctrl"),
            F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0)).alias("y_treat"),
            F.sum(F.when(~F.col("__t"), F.col("__y")).otherwise(0)).alias("y_ctrl"),
        )
    )
    wc = (
        Window.partitionBy("__g")
        .orderBy("tile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("__g")
    nt_c = F.sum("n_treat").over(wc).cast("double")
    nc_c = F.sum("n_ctrl").over(wc).cast("double")
    yt_c = F.sum("y_treat").over(wc).cast("double")
    yc_c = F.sum("y_ctrl").over(wc).cast("double")
    n_c = nt_c + nc_c
    uplift = F.when(nc_c > 0, yt_c - yc_c * (nt_c / nc_c))
    nt_a = F.sum("n_treat").over(wa).cast("double")
    nc_a = F.sum("n_ctrl").over(wa).cast("double")
    yt_a = F.sum("y_treat").over(wa).cast("double")
    yc_a = F.sum("y_ctrl").over(wa).cast("double")
    total_uplift = F.when(nc_a > 0, yt_a - yc_a * (nt_a / nc_a))
    random_k = total_uplift * (n_c / (nt_a + nc_a))
    return tiles.select(
        F.col("__g").alias(group_col),
        F.col("tile").cast("int").alias("tile"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("y_treat").cast("long").alias("y_treat"),
        F.col("y_ctrl").cast("long").alias("y_ctrl"),
        F.round(uplift + F.lit(1e-9), 6).alias("cum_uplift"),
        F.round(random_k + F.lit(1e-9), 6).alias("cum_random"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test for k treatments over n matched blocks — the
    nonparametric repeated-measures ANOVA: within each block, midrank
    the k treatments by value, then with rank sums R_j and per-block
    tie runs of length t,

        S      = sum_j (R_j - n (k+1) / 2)^2
        chi2_r = 12 S / (n k (k+1))  /  C
        C      = 1 - sum_blocks sum_runs (t^3 - t) / (n k (k^3 ... ))

    using the standard tie-corrected form ``chi2_r = 12 S / (n k (k+1))
    / (1 - T / (n k (k^2 - 1)))`` with ``T = sum (t^3 - t)`` over all
    within-block tie runs; chi2_r ~ chi-square(k-1) under exchangeable
    treatments. The hypothesis-testing complement of
    :func:`kendalls_w` (the SAME midrank machinery with blocks and
    raters swapped — W measures agreement strength, Friedman tests
    treatment differences; chi2_r = n (k-1) W on tie-free panels,
    a cross-check the tests assert).

    Complete-panel contract: :func:`_complete_panel` (every block
    holds every treatment; it runs Spark jobs at construction). Empty
    input returns the 1-row NULL frame. chi2_r is NULL when k < 2 or
    all blocks fully tied (C = 0).

    Cross-engine determinism: midranks are
    :func:`~mr_dice_spark.operators.ranks.rank_cells` doubled midranks
    over (block, value) cells, halved — exact integers-plus-halves; S
    and T are exact integer-valued doubles; chi2_r is one
    correctly-rounded chain, rounded at 6.

    Scale shape: a (block, treatment) max-aggregate, rank_cells'
    (block, value) cell aggregate + block-partitioned window (bounded
    by k), one
    join back, a treatment-keyed and a 1-row aggregate meeting by
    broadcast. Returns ``(n_blocks, k_treatments, s_stat,
    tie_correction, chi2_r, df)``.
    """
    obs, n, k, _ = _complete_panel(
        df, "friedman_test", block_col, treatment_col, value_col, _BLOCK_PANEL
    )
    if n == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None, None, None)],
            "n_blocks long, k_treatments long, s_stat double, "
            "tie_correction double, chi2_r double, df long",
        )
    ranked = rank_cells(obs, ["__b"], "__s")
    with_ranks = obs.join(
        ranked.select("__b", "__s", (F.col("__r2") / 2.0).alias("__r")),
        ["__b", "__s"],
    )
    mean_r = float(n) * (float(k) + 1.0) / 2.0
    s1 = (
        with_ranks.groupBy("__t")
        .agg(F.sum("__r").alias("__rj"))
        .agg(
            F.sum(
                (F.col("__rj") - F.lit(mean_r)) * (F.col("__rj") - F.lit(mean_r))
            ).alias("__S")
        )
    )
    tt = F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
    t1 = ranked.agg(F.coalesce(F.sum(tt), F.lit(0)).cast("double").alias("__T"))
    joined = s1.crossJoin(F.broadcast(t1))
    corr = F.lit(1.0) - F.col("__T") / F.lit(
        float(n) * k * (float(k) ** 2 - 1.0)
    ) if k >= 2 else F.lit(0.0)
    chi2 = F.when(
        (F.lit(int(k)) >= 2) & (corr > 0),
        (12.0 * F.col("__S") / F.lit(float(n) * k * (k + 1.0))) / corr,
    )
    return joined.select(
        F.lit(int(n)).cast("long").alias("n_blocks"),
        F.lit(int(k)).cast("long").alias("k_treatments"),
        F.round(F.col("__S") + F.lit(1e-9), 6).alias("s_stat"),
        F.round(F.col("__T") + F.lit(1e-9), 6).alias("tie_correction"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2_r"),
        F.lit(int(k) - 1 if k >= 1 else None).cast("long").alias("df"),
    )


def icc_two_way(
    df: DataFrame,
    rater_col: str,
    item_col: str,
    score_col: str,
) -> DataFrame:
    """Intraclass correlation for CONTINUOUS scores on a complete
    two-way panel (every rater scores every item once) — the agreement
    family's missing member for numeric ratings: Fleiss/Krippendorff
    score nominal labels, :func:`kendalls_w` ordinal ranks, ICC actual
    values. From the two-way mean squares (items n, raters k):

        MSR = k * sum_i (ibar_i - g)^2 / (n - 1)     (rows = items)
        MSC = n * sum_j (jbar_j - g)^2 / (k - 1)     (cols = raters)
        MSE = (SST - SSR - SSC) / ((n - 1) (k - 1))

        ICC(2,1) = (MSR - MSE) /
                   (MSR + (k-1) MSE + k (MSC - MSE) / n)   [absolute
                   agreement, raters random — penalizes calibration
                   offsets between raters]
        ICC(3,1) = (MSR - MSE) / (MSR + (k-1) MSE)         [consistency,
                   raters fixed — offsets forgiven]

    Reporting BOTH is deliberate: their gap isolates how much
    disagreement is pure rater bias (a miscalibrated judge/model)
    versus noise.

    Complete-panel contract: :func:`_complete_panel` (every rater
    scores every item). The grand mean and the largest |score| ride its
    shape probe, so construction runs two actions — the pin and the
    probe — which are 8 Spark jobs on the golden panel (each shuffle
    stage of an action is its own job under AQE). Scores must be
    finite with |s| < 1e10: NaN, +-Inf or a larger score raises
    ``ValueError``.
    Empty input returns the 1-row NULL frame. ICCs are NULL when
    n < 2, k < 2, or the denominator is 0 (all scores identical).

    Cross-engine determinism: per-item/per-rater/grand means pin at
    9dp before squaring; the three SS are sums of fixed IEEE squares
    of pinned operands, pinned at 9dp; the ICC chain rounds at 6.

    Scale shape: the panel pin, one item-keyed and one rater-keyed
    mean aggregate over it, three 1-row reduces meeting by broadcast —
    no windows at all. Returns ``(n_items, k_raters, ms_rows, ms_cols,
    ms_err, icc2_1, icc3_1)``.
    """
    # decimal means (the durbin_watson convention): float AVG depends on
    # shuffle arrival order in its sum; the decimal sum is
    # order-invariant and engine-invariant. Contract: scores on a
    # <= 6dp grid, |s| < 1e10.
    def pin9(x):
        return F.round(x + F.lit(1e-12), 9)

    # try_cast: an out-of-range score gives NULL instead of an ANSI
    # overflow inside the probe, so the |s| check below can name it
    sd = F.col("__s").try_cast("decimal(16,6)")
    mean9 = pin9(F.sum(sd).cast("double") / F.count(F.lit(1)).cast("double"))
    # the grand mean and the largest |score| ride the shape probe (one
    # eager job, not two — ADVICE r9)
    obs, k, n, shape = _complete_panel(
        df, "icc_two_way", rater_col, item_col, score_col, _RATER_PANEL,
        __g=mean9, __amax=F.max(F.abs("__s")),
    )
    if k == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None, None, None, None)],
            "n_items long, k_raters long, ms_rows double, ms_cols double, "
            "ms_err double, icc2_1 double, icc3_1 double",
        )
    # NaN, +-Inf and |s| >= 1e10 cast to a NULL decimal: the cell would
    # still count while its score dropped out of every sum (max(|s|) is
    # NaN if any score is NaN, so one comparison catches them all)
    if not shape["__amax"] < 1e10:
        raise ValueError(
            "icc_two_way: scores must be finite with |s| < 1e10 "
            f"(max |s| = {shape['__amax']})"
        )
    item_means = obs.groupBy("__i").agg(mean9.alias("__im"))
    rater_means = obs.groupBy("__j").agg(mean9.alias("__jm"))
    grand = float(shape["__g"])

    def _dev2(col):
        d = (col - F.lit(grand)).cast("decimal(18,9)")
        return F.sum(d * d).cast("double")

    ssr_row = item_means.agg(
        pin9(F.lit(float(k)) * _dev2(F.col("__im"))).alias("__ssr")
    )
    ssc_row = rater_means.agg(
        pin9(F.lit(float(n)) * _dev2(F.col("__jm"))).alias("__ssc")
    )
    sst_row = obs.agg(pin9(_dev2(F.col("__s"))).alias("__sst"))
    joined = ssr_row.crossJoin(F.broadcast(ssc_row)).crossJoin(
        F.broadcast(sst_row)
    )
    n_f, k_f = float(n), float(k)
    ok = (F.lit(n) >= 2) & (F.lit(k) >= 2)
    msr = F.col("__ssr") / F.lit(n_f - 1.0)
    msc = F.col("__ssc") / F.lit(k_f - 1.0)
    mse = (F.col("__sst") - F.col("__ssr") - F.col("__ssc")) / F.lit(
        max((n_f - 1.0) * (k_f - 1.0), 1.0)
    )
    den2 = msr + F.lit(k_f - 1.0) * mse + F.lit(k_f) * (msc - mse) / F.lit(
        max(n_f, 1.0)
    )
    den3 = msr + F.lit(k_f - 1.0) * mse
    icc2 = F.when(ok & (den2 != 0), (msr - mse) / den2)
    icc3 = F.when(ok & (den3 != 0), (msr - mse) / den3)
    return joined.select(
        F.lit(int(n)).cast("long").alias("n_items"),
        F.lit(int(k)).cast("long").alias("k_raters"),
        F.round(F.when(ok, msr) + F.lit(1e-9), 6).alias("ms_rows"),
        F.round(F.when(ok, msc) + F.lit(1e-9), 6).alias("ms_cols"),
        F.round(F.when(ok, mse) + F.lit(1e-9), 6).alias("ms_err"),
        F.round(icc2 + F.lit(1e-9), 6).alias("icc2_1"),
        F.round(icc3 + F.lit(1e-9), 6).alias("icc3_1"),
    )


def lins_ccc(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Lin's concordance correlation coefficient — does y
    REPRODUCE x (agreement with the 45-degree line), not merely
    correlate with it:

        CCC = 2 cov(x, y) / (var(x) + var(y) + (xbar - ybar)^2)

    with POPULATION moments (n denominators — Lin's original form).
    CCC <= |Pearson r| always, with equality iff the fit is exactly
    y = x; the gap is the calibration penalty. The paired-continuous
    member of the agreement family (:func:`icc_two_way` generalizes to
    k raters; CCC is the 2-column readout model-vs-model comparisons
    want), and the right score for 'does the cheap model reproduce the
    expensive one', where Pearson rewards a miscalibrated clone.

    NULL key/x/y rows are excluded (pairs must be complete). Keys with
    < 2 pairs or a zero denominator (both columns constant and equal)
    report NULL ccc; constant-but-OFFSET columns report CCC 0 (pure
    location disagreement — the honest score).

    Cross-engine determinism: one power-sum aggregate per key; means
    pin at 9dp; cov/var numerators are formed in exact decimal
    (``n*sxy - sx*sy`` etc. — the durbin_watson cancellation
    convention), divided by n^2 after the cast to double and pinned at
    9dp; the closing ratio rounds at 6.

    Scale shape: ONE hash aggregate of six scalars per key with
    map-side combine — the group_ols_trend moment-sketch shape, no
    window, no join. Returns ``(key, n, pearson_r, ccc)``.
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
    # decimal power sums AND decimal cancellation (the durbin_watson
    # convention): cov/var numerators n*sxy - sx*sy etc. are formed in
    # exact decimal — casting the sums to double first lets DuckDB's
    # 1-ulp-off DECIMAL->DOUBLE cast be amplified by the cancellation
    # into the 9dp pins. Population moments follow as the exact
    # numerator over n^2. Contract (>= 10x compact-cast headroom):
    # pairs on a <= 6dp grid, |x|,|y| < 1e5, n < 1e6 per key.
    xd = F.col("__x").cast("decimal(16,6)")
    yd = F.col("__y").cast("decimal(16,6)")
    agg = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(xd).cast("decimal(18,6)").alias("__sxd"),
        F.sum(yd).cast("decimal(18,6)").alias("__syd"),
        F.sum(xd * xd).cast("decimal(31,12)").alias("__sxxd"),
        F.sum(yd * yd).cast("decimal(31,12)").alias("__syyd"),
        F.sum(xd * yd).cast("decimal(31,12)").alias("__sxyd"),
    )
    n_dec = F.col("__n").cast("decimal(6,0)")

    def _cancel(sq, sa, sb):
        return (
            (n_dec * sq).cast("decimal(37,12)")
            - (sa * sb).cast("decimal(37,12)")
        ).cast("double")

    covn = _cancel(F.col("__sxyd"), F.col("__sxd"), F.col("__syd"))
    vxn = _cancel(F.col("__sxxd"), F.col("__sxd"), F.col("__sxd"))
    vyn = _cancel(F.col("__syyd"), F.col("__syd"), F.col("__syd"))
    n_d = F.col("__n").cast("double")
    n2 = n_d * n_d
    mx = F.round(F.col("__sxd").cast("double") / n_d + F.lit(1e-12), 9)
    my = F.round(F.col("__syd").cast("double") / n_d + F.lit(1e-12), 9)
    cov = F.round(covn / n2 + F.lit(1e-12), 9)
    vx = F.round(vxn / n2 + F.lit(1e-12), 9)
    vy = F.round(vyn / n2 + F.lit(1e-12), 9)
    den = vx + vy + (mx - my) * (mx - my)
    ccc = F.when((F.col("__n") >= 2) & (den > 0), 2.0 * cov / den)
    r = F.when(
        (F.col("__n") >= 2) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx * vy),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.round(r + F.lit(1e-9), 6).alias("pearson_r"),
        F.round(ccc + F.lit(1e-9), 6).alias("ccc"),
    )


def partial_correlation(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """Per-key first-order partial correlation — does the x-y
    association SURVIVE controlling for a confounder z:

        r_xy.z = (r_xy - r_xz * r_yz)
                 / sqrt((1 - r_xz^2) (1 - r_yz^2))

    with Pearson r's from one power-sum aggregate. The missing third
    of the correlation story beside :func:`mr_dice_spark.operators.
    profile.correlation_matrix` (which pair moves together) and
    :func:`lins_ccc` (do they AGREE): a strong r_xy that collapses
    under z is z's correlation wearing a costume — the volume/size
    confound every observational metric pair carries.

    NULL key/x/y/z rows are excluded (triples must be complete —
    partial correlation on pairwise-deleted moments is not a
    correlation matrix, and this operator refuses to fake one). Keys
    with n < 3, any zero variance, or |r_xz| = 1 / |r_yz| = 1 (z
    explains a column exactly — the partial is undefined) report NULL
    r_xy_given_z; the three raw r's still report where their own
    variances allow.

    Cross-engine determinism: decimal power sums AND decimal
    cancellation for every covariance/variance numerator
    (``n*sxy - sx*sy`` etc. — the durbin_watson convention; contract:
    values on a <= 6dp grid, |x|,|y|,|z| < 1e5, n < 1e6 per key);
    each r is covn / sqrt(vn_a * vn_b) on the post-cancellation
    doubles (the n^2 factors cancel), pinned at 9dp; the partial is
    one fixed chain on pinned r's, rounded at 6.

    Scale shape: ONE hash aggregate of ten scalars per key with
    map-side combine (the lins_ccc moment-sketch shape), no window,
    no join. Returns ``(key, n, r_xy, r_xz, r_yz, r_xy_given_z)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no correlation
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
        F.col(z_col).cast("double").alias("__z"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )
    xd = F.col("__x").cast("decimal(16,6)")
    yd = F.col("__y").cast("decimal(16,6)")
    zd = F.col("__z").cast("decimal(16,6)")
    agg = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(xd).cast("decimal(18,6)").alias("__sx"),
        F.sum(yd).cast("decimal(18,6)").alias("__sy"),
        F.sum(zd).cast("decimal(18,6)").alias("__sz"),
        F.sum(xd * xd).cast("decimal(31,12)").alias("__sxx"),
        F.sum(yd * yd).cast("decimal(31,12)").alias("__syy"),
        F.sum(zd * zd).cast("decimal(31,12)").alias("__szz"),
        F.sum(xd * yd).cast("decimal(31,12)").alias("__sxy"),
        F.sum(xd * zd).cast("decimal(31,12)").alias("__sxz"),
        F.sum(yd * zd).cast("decimal(31,12)").alias("__syz"),
    )
    n_dec = F.col("__n").cast("decimal(6,0)")

    def _cancel(sq, sa, sb):
        return (
            (n_dec * sq).cast("decimal(37,12)")
            - (sa * sb).cast("decimal(37,12)")
        ).cast("double")

    vx = _cancel(F.col("__sxx"), F.col("__sx"), F.col("__sx"))
    vy = _cancel(F.col("__syy"), F.col("__sy"), F.col("__sy"))
    vz = _cancel(F.col("__szz"), F.col("__sz"), F.col("__sz"))
    cxy = _cancel(F.col("__sxy"), F.col("__sx"), F.col("__sy"))
    cxz = _cancel(F.col("__sxz"), F.col("__sx"), F.col("__sz"))
    cyz = _cancel(F.col("__syz"), F.col("__sy"), F.col("__sz"))

    def _r(cov, va, vb):
        return F.when(
            (F.col("__n") >= 2) & (va > 0) & (vb > 0),
            F.round(cov / F.sqrt(va * vb) + F.lit(1e-12), 9),
        )

    r_xy = _r(cxy, vx, vy)
    r_xz = _r(cxz, vx, vz)
    r_yz = _r(cyz, vy, vz)
    den = (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)
    partial = F.when(
        (F.col("__n") >= 3) & (den > 0),
        (r_xy - r_xz * r_yz) / F.sqrt(den),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.round(r_xy + F.lit(1e-9), 6).alias("r_xy"),
        F.round(r_xz + F.lit(1e-9), 6).alias("r_xz"),
        F.round(r_yz + F.lit(1e-9), 6).alias("r_yz"),
        F.round(partial + F.lit(1e-9), 6).alias("r_xy_given_z"),
    )


def mood_scale_test(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Per-group Mood two-sample SCALE test — the dispersion member the
    two-sample family lacks: :func:`mann_whitney_u_by_group` asks 'did
    the location shift', this asks 'did the SPREAD change' without
    assuming normality (where Brown-Forsythe assumes a meaningful
    mean). Scores are squared rank deviations from the pooled centre:

        a_i = (r_i - (N+1)/2)^2         (midranks under ties)
        T   = sum_{i in A} a_i

    judged with the EXACT permutation moments of a linear rank
    statistic — valid under arbitrary ties, no tie-correction
    special-casing:

        E[T]   = n_a * abar
        Var[T] = n_a * n_b / (N (N-1)) * sum_i (a_i - abar)^2

    Groups where either class is empty or every value is tied (Var 0)
    report NULL z (fail-closed); T/E still report where defined. NULL
    group/class/value rows are excluded.

    Cross-engine determinism: the doubled midrank 2r comes from
    :func:`~mr_dice_spark.operators.ranks.rank_cells`, so 4 a_i =
    (2r - N - 1)^2 is an exact long and the quartic moment sums ride
    exact DECIMAL(38,0) products (t * d^2 as long, times d^2 as decimal
    — the decimal sum is order- and engine-invariant); T and E[T] emit
    RAW (identical IEEE chains on exact operands are bit-equal, and at
    their ~N^3/4 magnitude ROUND(double) itself diverges cross-engine —
    see the inline note); z pins at 9dp and rounds at 6.

    Scale shape: :func:`two_sample_cells` (one exchange), one closing
    aggregate. Returns ``(group, n_a, n_b, t_stat, e_t, z)``.
    """
    cells = two_sample_cells(df, group_col, class_col, value_col, class_a)
    d = F.col("__r2") - F.col("__nn") - 1  # 2 * (r_i - (N+1)/2)
    return _linear_rank_scale_test(cells, group_col, d * d, 4)


def _linear_rank_scale_test(
    cells: DataFrame, group_col: str, score, k: int
) -> DataFrame:
    """Closing chain shared by :func:`mood_scale_test` (k = 4) and
    :func:`ansari_bradley` (k = 2): exact permutation moments of
    ``T = sum_{i in A} a_i`` from ``score = k * a_i``, an exact long per
    :func:`two_sample_cells` cell. Returns ``(group, n_a, n_b,
    t_stat, e_t, z)``."""
    ts = F.col("__t") * score  # headroom: N * max(score) must fit a long
    agg = cells.groupBy("__g").agg(
        F.max("__na").alias("__cna"),
        F.max("__nn").alias("__cnn"),
        F.sum(F.col("__ta") * score).alias("__tk"),
        F.sum(ts).alias("__sk"),
        F.sum(
            ts.cast("decimal(19,0)") * score.cast("decimal(19,0)")
        ).alias("__skk"),
    )
    na = F.col("__cna").cast("double")
    nn = F.col("__cnn").cast("double")
    nb = nn - na
    t_stat = F.col("__tk").cast("double") / float(k)
    abar = F.col("__sk").cast("double") / float(k) / nn
    # e_t is RAW, not pinned/rounded: the quadratic scores push T and
    # E[T] to ~N^3/4 (1.7e11 at sf0.1), where ROUND(double, d) itself
    # DIVERGES cross-engine — DuckDB computes x*10^d -> nearbyint ->
    # /10^d, lossy once |x|*10^d exceeds 2^53, while Spark rounds
    # exactly through BigDecimal (caught by the round-11 sf0.1 strict
    # sweep as a t_stat last-ulp mismatch). Both engines execute the
    # IDENTICAL IEEE chain on exact sub-2^53 operands, so the raw
    # doubles are bit-identical; rounding is what broke equality.
    # Documented headroom: mood's quartic moment sum < 2^53 needs
    # N <~ 2e5 per group (ansari's quadratic one has more room).
    e_t = na * abar
    ssa = F.col("__skk").cast("double") / float(k * k) - nn * abar * abar
    # try_divide: a 1-row group (N - 1 = 0) fails closed, not ANSI-raises
    var = F.round(
        F.try_divide(na * nb, nn * (nn - 1.0)) * ssa + F.lit(1e-12), 9
    )
    ok = (F.col("__cna") > 0) & (nb > 0) & (var > 0)
    z = F.when(
        ok,
        F.round(
            (t_stat - e_t) / F.round(F.sqrt(var) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    defined = (F.col("__cna") > 0) & (nb > 0)
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__cna").cast("long").alias("n_a"),
        (F.col("__cnn") - F.col("__cna")).cast("long").alias("n_b"),
        F.when(defined, t_stat).alias("t_stat"),
        F.when(defined, e_t).alias("e_t"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Per-group Ansari-Bradley two-sample scale test — the
    checklist-name sibling of :func:`mood_scale_test` with the
    TRIANGULAR score instead of the squared one:

        a_i = min(r_i, N + 1 - r_i)       (midranks under ties)
        T   = sum_{i in A} a_i

    Small T means sample A sits at the EXTREMES of the pooled sample
    (wider spread); Mood's squared scores weight far-out ranks
    quadratically, AB linearly — AB loses less power under moderate
    tie mass and is the variant scipy/R ship under this name, so
    review checklists ask for both. Judged with the same EXACT
    permutation moments of a linear rank statistic (valid under
    arbitrary ties, no lookup tables):

        E[T]   = n_a * abar
        Var[T] = n_a * n_b / (N (N-1)) * sum_i (a_i - abar)^2

    with abar the pooled mean score. z = (T - E[T]) / sqrt(Var[T]),
    NEGATIVE when A is more spread out.

    Groups where either class is empty or every value is tied (Var 0)
    report NULL z (fail-closed); T/E still report where defined. NULL
    group/class/value rows are excluded.

    Cross-engine determinism: the doubled midrank 2r comes from
    :func:`~mr_dice_spark.operators.ranks.rank_cells`, so 2 a_i =
    min(2r, 2N + 2 - 2r) is an exact long; the closing chain is
    mood_scale_test's (:func:`_linear_rank_scale_test`) with k = 2.

    Scale shape: :func:`two_sample_cells` (one exchange), one closing
    aggregate. Returns ``(group, n_a, n_b, t_stat, e_t, z)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    cells = two_sample_cells(df, group_col, class_col, value_col, class_a)
    r2 = F.col("__r2")
    a2 = F.least(r2, 2 * F.col("__nn") + 2 - r2)  # 2 * a_i, exact long
    return _linear_rank_scale_test(cells, group_col, a2, 2)


def wilcoxon_signed_rank(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Wilcoxon signed-rank test — the PAIRED member the
    two-sample family was missing (:func:`mann_whitney_u_by_group`
    compares independent samples; this compares matched pairs): with
    differences d_i = y_i - x_i, zeros DROPPED (the standard 'wilcox'
    zero policy), and |d| midranked within the key,

        W+   = sum of ranks where d_i > 0
        E[W+] = sum(r_i) / 2,   Var[W+] = sum(r_i^2) / 4

    — the EXACT sign-flip permutation moments, valid under arbitrary
    |d| ties (signs stay independent Bernoulli(1/2) under the null; the
    midranks are fixed given |d|, so no tie-correction table is
    needed). z = (W+ - E) / sqrt(Var), positive when y tends to exceed
    x.

    NULL key/x/y rows are excluded (pairs must be complete — the
    caller's frame contract, usually CASE-summed like lins_ccc's).
    Keys where every pair ties (all d = 0 — n_eff 0) or with a zero
    variance report NULL z (fail-closed); counts still report.

    Cross-engine determinism: d lands exactly on the caller's value
    grid (document <= 6dp); the (key, |d|) tie cells take doubled
    midranks from :func:`~mr_dice_spark.operators.ranks.rank_cells`;
    W+/E come from exact long sums and Var from exact decimal quartic
    sums; z is one fixed chain on pinned operands, rounded at 6.

    Scale shape: rank_cells on the (key, |d|) cells (one exchange), one
    closing aggregate. Returns ``(key, n_pairs, n_eff, w_plus, e_w,
    z)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        (F.col(y_col).cast("double") - F.col(x_col).cast("double")).alias(
            "__d"
        ),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    counted = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__np"),
        F.count_if(F.col("__d") != 0).alias("__ne"),
    )
    nonzero = base.where(F.col("__d") != 0).withColumn(
        "__a", F.abs(F.col("__d"))
    )
    cells = rank_cells(
        nonzero, ["__k"], "__a", __tp=F.count_if(F.col("__d") > 0)
    )
    r2 = F.col("__r2")  # doubled midrank of |d|
    agg = cells.groupBy("__k").agg(
        F.sum(F.col("__tp") * r2).alias("__wp2"),
        F.sum(F.col("__t") * r2).alias("__sr2"),
        F.sum(
            (F.col("__t") * r2).cast("decimal(19,0)")
            * r2.cast("decimal(19,0)")
        ).alias("__sr4"),
    )
    out = counted.join(agg, ["__k"], "left")
    w_plus = F.col("__wp2").cast("double") / 2.0
    e_w = F.col("__sr2").cast("double") / 4.0
    var_w = F.round(
        F.col("__sr4").cast("double") / 16.0 + F.lit(1e-12), 9
    )
    defined = F.col("__ne") > 0
    z = F.when(
        defined & (var_w > 0),
        F.round(
            (w_plus - e_w)
            / F.round(F.sqrt(var_w) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__np").cast("long").alias("n_pairs"),
        F.col("__ne").cast("long").alias("n_eff"),
        # w_plus/e_w are exact half/quarter-integers — emitted RAW (the
        # mood_scale convention): rounding a large exact double is what
        # diverges cross-engine, never the identical exact chain
        F.when(defined, w_plus).alias("w_plus"),
        F.when(defined, e_w).alias("e_w"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def bowker_symmetry(
    df: DataFrame,
    key_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Per-key Bowker symmetry test on a paired k-category table — the
    k-category generalization of :func:`mcnemar_test`: with units
    labeled twice (annotator A vs B, old model vs new, weekday band vs
    weekend band) and cell counts n_ij,

        chi2 = sum_{i < j} (n_ij - n_ji)^2 / (n_ij + n_ji)
        dof  = #{ (i, j) : i < j, n_ij + n_ji > 0 }

    rejecting when labels FLOW asymmetrically between categories (the
    label-drift readout a confusion matrix's diagonal hides; marginal
    homogeneity follows from symmetry). Pairs with n_ij + n_ji = 0
    contribute nothing and drop from dof — the standard convention.
    For k = 2 this IS McNemar's chi-square.

    NULL key/a/b rows are excluded. Diagonal cells (i = j) never enter.
    Keys with no off-diagonal discordance (chi2 sum empty) report NULL
    chi2 and dof 0 (fail-closed — no flow to test). Category values
    compare by equality; feed quantized bands, not raw floats.

    Cross-engine determinism: cell counts are exact integers; each
    pair term is one fixed IEEE chain on exact counts, pinned at 9dp
    and summed as exact decimal(19,9); dof is an exact count.

    Scale shape: one (key, a, b) cell aggregate bounds the state at
    k^2 per key; the mirrored pair meets by FOLDING each off-diagonal
    cell onto its unordered (lo, hi) pair and re-aggregating — no
    self-join exists anywhere; one totals aggregate joins back on the
    key (cell-sized relation). Returns
    ``(key, n, k_categories, chi2, dof)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(a_col).alias("__a"),
        F.col(b_col).alias("__b"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
    )
    cells = base.groupBy("__k", "__a", "__b").agg(
        F.count(F.lit(1)).alias("__n")
    )
    totals = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__tot"),
        F.countDistinct(F.col("__a")).alias("__ka"),
        F.countDistinct(F.col("__b")).alias("__kb"),
    )
    # fold each off-diagonal cell onto its unordered pair (lo, hi) and
    # sum the two directions separately — symmetric difference without
    # a join: (key, lo, hi) cells aggregate directly
    off = cells.where(F.col("__a") != F.col("__b")).select(
        "__k",
        F.least("__a", "__b").alias("__lo"),
        F.greatest("__a", "__b").alias("__hi"),
        F.when(F.col("__a") < F.col("__b"), F.col("__n"))
        .otherwise(F.lit(0))
        .alias("__up"),
        F.when(F.col("__a") > F.col("__b"), F.col("__n"))
        .otherwise(F.lit(0))
        .alias("__dn"),
    )
    pairs = off.groupBy("__k", "__lo", "__hi").agg(
        F.sum("__up").alias("__nij"),
        F.sum("__dn").alias("__nji"),
    )
    diff = (F.col("__nij") - F.col("__nji")).cast("double")
    tot = (F.col("__nij") + F.col("__nji")).cast("double")
    term = F.round(diff * diff / tot + F.lit(1e-12), 9)
    agg = pairs.groupBy("__k").agg(
        F.sum(term.cast("decimal(19,9)")).cast("double").alias("__chi2"),
        F.count(F.lit(1)).alias("__dof"),
    )
    out = totals.join(agg, ["__k"], "left")
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__tot").cast("long").alias("n"),
        F.greatest(F.col("__ka"), F.col("__kb"))
        .cast("long")
        .alias("k_categories"),
        F.round(F.col("__chi2") + F.lit(1e-9), 6).alias("chi2"),
        F.coalesce(F.col("__dof"), F.lit(0)).cast("long").alias("dof"),
    )


def lepage_2s(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Per-group Lepage combined location-scale test — ONE omnibus
    number for 'did the distribution move OR spread':

        L = z_W^2 + z_AB^2   ~ chi-square(2) under identity

    where z_W standardizes the Wilcoxon rank-sum of sample A (midrank
    scores a_i = r_i — the location axis) and z_AB the Ansari-Bradley
    triangular score sum (a_i = min(r_i, N+1-r_i) — the scale axis),
    each with the EXACT permutation moments of a linear rank statistic
    (E[T] = n_a abar, Var[T] = n_a n_b / (N(N-1)) * sum (a_i - abar)^2
    — tie-proof, no correction tables). The pair (z_W, z_AB) is
    asymptotically independent, which is what licenses the chi-square
    sum; L is the standard first screen when either axis could have
    moved and reviews want one gate instead of two.

    Groups where either class is empty report all-NULL statistics;
    a zero variance on one axis (all values tied for that score) NULLs
    that z AND L (fail-closed — half an omnibus is not an omnibus).
    NULL group/class/value rows are excluded.

    Cross-engine determinism: both score families are exact longs off
    the doubled midrank 2r from
    :func:`~mr_dice_spark.operators.ranks.rank_cells` (2a_AB =
    min(2r, 2N+2-2r)); score sums are exact longs, quadratic moment
    sums exact decimals; each z pins at 9dp (e_t included — unlike
    mood/ansari, whose e_t emits raw); L is one fixed chain on pinned
    z's, rounded at 6.

    Scale shape: :func:`two_sample_cells` (one exchange), one closing
    aggregate computing BOTH axes. Returns ``(group, n_a, n_b, z_w,
    z_ab, lepage_l)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    cells = two_sample_cells(df, group_col, class_col, value_col, class_a)
    r2 = F.col("__r2")
    s2 = F.least(r2, 2 * F.col("__nn") + 2 - r2)  # doubled AB score
    agg = cells.groupBy("__g").agg(
        F.max("__na").alias("__cna"),
        F.max("__nn").alias("__cnn"),
        F.sum(F.col("__ta") * r2).alias("__tw2"),
        F.sum(F.col("__t") * r2).alias("__sw2"),
        F.sum(
            (F.col("__t") * r2).cast("decimal(19,0)")
            * r2.cast("decimal(19,0)")
        ).alias("__sw4"),
        F.sum(F.col("__ta") * s2).alias("__tb2"),
        F.sum(F.col("__t") * s2).alias("__sb2"),
        F.sum(
            (F.col("__t") * s2).cast("decimal(19,0)")
            * s2.cast("decimal(19,0)")
        ).alias("__sb4"),
    )
    na = F.col("__cna").cast("double")
    nn = F.col("__cnn").cast("double")
    nb = nn - na

    def _z(t2, sum2, sum4):
        t_stat = t2.cast("double") / 2.0
        abar = sum2.cast("double") / 2.0 / nn
        e_t = F.round(na * abar + F.lit(1e-12), 9)
        ssa = sum4.cast("double") / 4.0 - nn * abar * abar
        var = F.round(
            F.try_divide(na * nb, nn * (nn - 1.0)) * ssa + F.lit(1e-12), 9
        )
        return F.when(
            (F.col("__cna") > 0) & (nb > 0) & (var > 0),
            F.round(
                (t_stat - e_t) / F.round(F.sqrt(var) + F.lit(1e-12), 9)
                + F.lit(1e-12),
                9,
            ),
        )

    z_w = _z(F.col("__tw2"), F.col("__sw2"), F.col("__sw4"))
    z_ab = _z(F.col("__tb2"), F.col("__sb2"), F.col("__sb4"))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__cna").cast("long").alias("n_a"),
        (F.col("__cnn") - F.col("__cna")).cast("long").alias("n_b"),
        F.round(z_w + F.lit(1e-9), 6).alias("z_w"),
        F.round(z_ab + F.lit(1e-9), 6).alias("z_ab"),
        F.round(z_w * z_w + z_ab * z_ab + F.lit(1e-9), 6).alias("lepage_l"),
    )


def brunner_munzel(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
) -> DataFrame:
    """Per-group Brunner-Munzel test — the modern replacement for
    Mann-Whitney when the two samples may differ in SHAPE/VARIANCE
    (MW's permutation null assumes exchangeability; BM studentizes the
    relative effect instead, the rank analogue of Welch vs pooled t):

        p_hat = P(X_A < X_B) + P(X_A = X_B)/2
              = (rbar_B - (n_b+1)/2) / n_a
        w     = n_a n_b (rbar_B - rbar_A)
                / (N * sqrt(n_a S_A^2 + n_b S_B^2))

    with rbar_s the mean POOLED midrank of sample s and S_s^2 the
    sample variance of ``d_i = r_i - r_i^(s)`` (pooled midrank minus
    WITHIN-sample midrank) — the scipy ``brunnermunzel`` statistic
    (its large-sample normal reading; the df table is one scalar
    lookup away). p_hat is the common-language effect size reviews
    quote alongside.

    Groups where either class is empty report all-NULL statistics;
    zero placement variance (n_a S_A^2 + n_b S_B^2 = 0, e.g. fully
    separated or fully tied samples) or a one-row sample (S^2
    undefined) reports p_hat but NULL w (fail-closed — the statistic is
    infinite or undefined there).
    NULL group/class/value rows are excluded.

    Cross-engine determinism: pooled AND within-sample midranks are
    doubled longs on the same
    :func:`~mr_dice_spark.operators.ranks.rank_cells` cells (2d =
    2r - 2r_own is an exact long, constant within a cell for each
    sample); the placement-variance numerators ``n S2_sum - S1_sum^2``
    are formed in exact decimal (the durbin_watson cancellation
    convention); means/variances pin at 9dp; w is one fixed chain,
    rounded at 6.

    Scale shape: :func:`two_sample_cells` plus nothing — the
    within-sample cumulative counts are rank_cells ``below`` sums on
    the SAME (group, value) ordered window as the pooled ones. Returns
    ``(group, n_a, n_b, p_hat, w)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    tb = F.col("__t") - F.col("__ta")
    cells = two_sample_cells(
        df, group_col, class_col, value_col, class_a,
        below={"__clta": F.col("__ta"), "__cltb": tb},
    )
    # doubled pooled and within-sample midranks (exact longs); the
    # doubled placement 2d = 2r - 2r_own is cell-constant per sample
    r2 = F.col("__r2")
    ra2 = 2 * F.col("__clta") + F.col("__ta") + 1
    rb2 = 2 * F.col("__cltb") + tb + 1
    da2 = r2 - ra2
    db2 = r2 - rb2
    agg = cells.groupBy("__g").agg(
        F.max("__na").alias("__cna"),
        F.max("__nn").alias("__cnn"),
        F.sum(F.col("__ta") * r2).alias("__ra_sum2"),
        F.sum(tb * r2).alias("__rb_sum2"),
        F.sum(F.col("__ta") * da2).alias("__da1"),
        F.sum(
            (F.col("__ta") * da2).cast("decimal(19,0)")
            * da2.cast("decimal(19,0)")
        ).alias("__da2"),
        F.sum(tb * db2).alias("__db1"),
        F.sum(
            (tb * db2).cast("decimal(19,0)")
            * db2.cast("decimal(19,0)")
        ).alias("__db2"),
    )
    na = F.col("__cna").cast("double")
    nn = F.col("__cnn").cast("double")
    nb = nn - na
    rbar_a = F.round(
        F.col("__ra_sum2").cast("double") / 2.0 / na + F.lit(1e-12), 9
    )
    rbar_b = F.round(
        F.col("__rb_sum2").cast("double") / 2.0 / nb + F.lit(1e-12), 9
    )

    def _s2(n_s, d1, d2):
        # sample variance of d/2 over sample s via decimal cancellation:
        # (n*sum(d2^2) - sum(d2)^2) / (4 n (n-1)); NULL for a 1-row
        # sample (try_divide — undefined, so w fails closed)
        num = (
            (n_s.cast("decimal(7,0)") * d2).cast("decimal(38,0)")
            - (d1.cast("decimal(19,0)") * d1.cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            )
        ).cast("double")
        n_d = n_s.cast("double")
        return F.round(
            F.try_divide(num, 4.0 * n_d * (n_d - 1.0)) + F.lit(1e-12), 9
        )

    s2a = _s2(F.col("__cna"), F.col("__da1"), F.col("__da2"))
    s2b = _s2(F.col("__cnn") - F.col("__cna"), F.col("__db1"), F.col("__db2"))
    both = (F.col("__cna") > 0) & (nb > 0)
    p_hat = F.when(
        both, F.round((rbar_b - (nb + 1.0) / 2.0) / na + F.lit(1e-12), 9)
    )
    pooled_var = F.round(na * s2a + nb * s2b + F.lit(1e-12), 9)
    w_stat = F.when(
        both & (pooled_var > 0),
        F.round(
            na * nb * (rbar_b - rbar_a)
            / (nn * F.round(F.sqrt(pooled_var) + F.lit(1e-12), 9))
            + F.lit(1e-12),
            9,
        ),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__cna").cast("long").alias("n_a"),
        (F.col("__cnn") - F.col("__cna")).cast("long").alias("n_b"),
        F.round(p_hat + F.lit(1e-9), 6).alias("p_hat"),
        F.round(w_stat + F.lit(1e-9), 6).alias("w"),
    )


def quade_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Quade test for k treatments over n matched blocks — the
    WEIGHTED member of the blocked-design family: where
    :func:`friedman_test` gives every block one vote, Quade weights
    each block by how much its values actually SPREAD, so blocks that
    discriminate between treatments dominate and near-constant blocks
    stop diluting the signal (the standard recommendation for small k,
    where Quade beats Friedman in power). With within-block midranks
    r_ij, block ranges ranked across blocks as Q_i (midranks), and

        S_ij = Q_i * (r_ij - (k+1)/2)
        S_j  = sum_i S_ij,   A = sum_ij S_ij^2,   B = sum_j S_j^2 / n
        F    = (n - 1) * B / (A - B)

    F ~ F(k-1, (n-1)(k-1)) under exchangeable treatments.

    Complete-panel contract: :func:`_complete_panel` (every block
    holds every treatment; it runs Spark jobs at construction). Empty
    input returns the 1-row NULL frame. f_stat is NULL when k < 2 or A = B
    (perfect cross-block agreement — F is infinite; fail-closed, like
    Friedman's C = 0).

    Cross-engine determinism: within-block midranks AND cross-block
    range ranks are doubled longs (2r, 2Q from
    :func:`~mr_dice_spark.operators.ranks.rank_cells`), so 4 S_ij =
    2Q_i * (2 r_ij - k - 1) is an exact long; block ranges are exact
    differences of 6dp-grid values; A sums exact longs and B squares
    the per-treatment 4 S_j sums as exact decimals (headroom: |4 S_j|
    <= 2 n^2 k must fit decimal(19,0) — n < ~1e6 blocks); the closing
    F is one fixed IEEE chain on A/16 and B/(16n), pinned at 9dp,
    rounded at 6.

    Scale shape: a (block, treatment) max-aggregate, rank_cells'
    (block, value) cell aggregate + block-partitioned window (bounded
    by k), a block-range dimension ranked by rank_cells with no keys
    (a single-partition window of the BLOCK-COUNT-sized frame, one row
    per block — the friedman 1-row meeting-point discipline), one
    broadcast join back, a treatment-keyed and a 1-row aggregate. Returns ``(n_blocks,
    k_treatments, a_stat, b_stat, f_stat, df1, df2)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    obs, n, k, _ = _complete_panel(
        df, "quade_test", block_col, treatment_col, value_col, _BLOCK_PANEL
    )
    if n == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None, None, None, None)],
            "n_blocks long, k_treatments long, a_stat double, b_stat double, "
            "f_stat double, df1 long, df2 long",
        )
    ranked = rank_cells(obs, ["__b"], "__s").select("__b", "__s", "__r2")
    with_ranks = obs.join(ranked, ["__b", "__s"])
    # block ranges (exact on the 6dp grid), doubled midranks across
    # blocks via tie cells on the range value — one row per block, so
    # the single-partition rank window is bounded by the panel pin
    ranges = obs.groupBy("__b").agg(
        (F.max("__s") - F.min("__s")).alias("__rng")
    )
    rng_ranked = rank_cells(ranges, [], "__rng").select(
        "__rng", F.col("__r2").alias("__q2")
    )
    block_q = ranges.join(F.broadcast(rng_ranked), ["__rng"]).select(
        "__b", "__q2"
    )
    s4 = (
        F.col("__q2") * (F.col("__r2") - F.lit(int(k) + 1))
    ).alias("__s4")  # 4 * S_ij, exact long
    scored = with_ranks.join(F.broadcast(block_q), ["__b"]).select(
        "__t", s4
    )
    per_t = scored.groupBy("__t").agg(
        F.sum("__s4").alias("__s4j"),
        F.sum(
            F.col("__s4").cast("decimal(19,0)")
            * F.col("__s4").cast("decimal(19,0)")
        ).alias("__a16"),
    )
    tot = per_t.agg(
        F.sum("__a16").cast("double").alias("__a"),
        F.sum(
            F.col("__s4j").cast("decimal(19,0)")
            * F.col("__s4j").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("__b16"),
    )
    n_d, k_i = float(n), int(k)
    a_stat = F.round(F.col("__a") / 16.0 + F.lit(1e-12), 9)
    b_stat = F.round(F.col("__b16") / (16.0 * n_d) + F.lit(1e-12), 9)
    f_stat = F.when(
        (F.lit(k_i) >= 2) & (a_stat - b_stat > 0),
        (n_d - 1.0) * b_stat / (a_stat - b_stat),
    )
    return tot.select(
        F.lit(int(n)).cast("long").alias("n_blocks"),
        F.lit(k_i).cast("long").alias("k_treatments"),
        F.round(a_stat + F.lit(1e-9), 6).alias("a_stat"),
        F.round(b_stat + F.lit(1e-9), 6).alias("b_stat"),
        F.round(f_stat + F.lit(1e-9), 6).alias("f_stat"),
        F.lit(k_i - 1 if k_i >= 1 else None).cast("long").alias("df1"),
        F.lit((int(n) - 1) * (k_i - 1) if k_i >= 1 else None)
        .cast("long")
        .alias("df2"),
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page trend test for k ORDERED treatments over n matched blocks —
    the ordered-alternative member of the blocked-design family, to
    :func:`friedman_test` what Jonckheere-Terpstra is to
    Kruskal-Wallis: does value rise monotonically with the treatment
    ordinal, CONSISTENTLY across blocks?

        L = sum_blocks sum_j c_j r_bj     (c_j = 1..k by treatment
                                           order, r = within-block
                                           midranks)

    judged with EXACT per-block permutation moments — valid under
    arbitrary ties with no correction terms (the mood_scale_test
    convention): within-block rank sums are k(k+1)/2 regardless of
    midranks, so E[L] = n k (k+1)^2 / 4 always, and

        Var[L] = k (k+1) / 12 * sum_blocks sum_j (r_bj - (k+1)/2)^2

    which reduces to the textbook n k^2 (k+1)^2 (k-1) / 144 on
    tie-free panels (asserted in the tests). ``treatment_col`` must be
    orderable — its sort order IS the alternative.

    Complete-panel contract: :func:`_complete_panel` (every block
    holds every treatment; it runs Spark jobs at construction). Empty
    input returns the 1-row NULL frame. z is NULL when k < 2 or every
    block is fully tied (Var 0).

    Cross-engine determinism: midranks are halved
    :func:`~mr_dice_spark.operators.ranks.rank_cells` doubled midranks
    (dyadic — exact in doubles); L, E and Var are
    exact dyadic arithmetic; z is one fixed IEEE chain, pinned at 9dp,
    rounded at 6.

    Scale shape: friedman_test's exact shape — the pinned panel,
    rank_cells' (block, value) cell aggregate and block-partitioned
    window (bounded by k), one join back, a broadcast treatment-ordinal
    dimension (k rows), two closing reduces. Returns ``(n_blocks,
    k_treatments, l_stat, e_l, var_l, z)``.
    """
    obs, n, k, _ = _complete_panel(
        df, "page_trend_test", block_col, treatment_col, value_col,
        _BLOCK_PANEL,
    )
    if n == 0:
        return df.sparkSession.createDataFrame(
            [(0, 0, None, None, None, None)],
            "n_blocks long, k_treatments long, l_stat double, e_l double, "
            "var_l double, z double",
        )
    ranked = rank_cells(obs, ["__b"], "__s").select(
        "__b", "__s", (F.col("__r2") / 2.0).alias("__r")
    )
    with_ranks = obs.join(ranked, ["__b", "__s"])
    w_ord = Window.orderBy("__t")
    ordinals = (
        obs.select("__t")
        .distinct()
        .select("__t", F.row_number().over(w_ord).alias("__c"))
    )
    scored = with_ranks.join(F.broadcast(ordinals), "__t")
    mid = (float(k) + 1.0) / 2.0
    agg = scored.agg(
        F.sum(F.col("__c").cast("double") * F.col("__r")).alias("__l"),
        F.sum(
            (F.col("__r") - F.lit(mid)) * (F.col("__r") - F.lit(mid))
        ).alias("__s2r"),
    )
    e_l = float(n) * k * (k + 1.0) ** 2 / 4.0
    var = F.round(
        F.lit(float(k) * (k + 1.0) / 12.0) * F.col("__s2r") + F.lit(1e-12), 9
    )
    ok = (F.lit(int(k)) >= 2) & (var > 0)
    z = F.when(
        ok,
        F.round(
            (F.col("__l") - F.lit(e_l))
            / F.round(F.sqrt(var) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    return agg.select(
        F.lit(int(n)).cast("long").alias("n_blocks"),
        F.lit(int(k)).cast("long").alias("k_treatments"),
        F.round(F.col("__l") + F.lit(1e-9), 6).alias("l_stat"),
        F.round(F.lit(e_l) + F.lit(1e-9), 6).alias("e_l"),
        F.round(F.when(F.lit(int(k)) >= 2, var) + F.lit(1e-9), 6).alias(
            "var_l"
        ),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def stuart_maxwell_3(
    df: DataFrame,
    key_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Per-key Stuart-Maxwell marginal-homogeneity test on a paired
    3-category table — the companion question to
    :func:`bowker_symmetry`: Bowker charges ASYMMETRIC label flow
    between individual category pairs; Stuart-Maxwell charges a NET
    SHIFT of the margins (did the label DISTRIBUTION move, regardless
    of which pairwise flows carried it?). Symmetry implies marginal
    homogeneity but not conversely, so the two tests disagree exactly
    when flows cancel pairwise yet the margins drift.

    For the 3-category closed form (Fleiss), with d_i = row_i - col_i
    and doubled symmetric pair sums ``m_ij = n_ij + n_ji``,

        chi2 = (m_23 d_1^2 + m_13 d_2^2 + m_12 d_3^2)
               / (m_12 m_13 + m_12 m_23 + m_13 m_23),    dof = 2

    — the 2x2 covariance inverse collapses to ONE division of exact
    integers (every operand a long; cross-engine bit-equal), rounded
    at 6. The denominator is computed pair-free as
    ``(S_m^2 - sum m^2) / 2`` so missing pairs contribute their true
    zero. Integer headroom: n^3 per key must fit a long (n < ~2e6).

    Categories are the OBSERVED union of both label columns per key.
    Keys with k_categories != 3 report NULL chi2/dof (the closed form
    is 3-specific; k = 2 is :func:`mcnemar_test`, general k needs the
    matrix inverse) — fail-closed, row kept. A zero denominator (no
    off-diagonal mass on two of the three pairs) also fail-closes.

    Scale shape: one (key, a, b) cell aggregate bounds state at 9
    cells per key; margins derive from a two-way union of that cell
    table; the unordered-pair fold is bowker's no-self-join shape; the
    third-category lookup is a cell-sized keyed join (exactly one
    match per pair when k = 3). Returns
    ``(key, n, k_categories, chi2, dof)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no hypothesis-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(a_col).alias("__a"),
        F.col(b_col).alias("__b"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
    )
    cells = base.groupBy("__k", "__a", "__b").agg(
        F.count(F.lit(1)).alias("__n")
    ).localCheckpoint(eager=True)
    # observed-category margins: row mass minus column mass per label
    margins = (
        cells.select(
            "__k",
            F.col("__a").alias("__cat"),
            F.col("__n").alias("__r"),
            F.lit(0).alias("__c"),
        )
        .unionByName(
            cells.select(
                "__k",
                F.col("__b").alias("__cat"),
                F.lit(0).alias("__r"),
                F.col("__n").alias("__c"),
            )
        )
        .groupBy("__k", "__cat")
        .agg((F.sum("__r") - F.sum("__c")).alias("__d"))
    )
    kc = margins.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__kc")
    )
    tot = cells.groupBy("__k").agg(F.sum("__n").alias("__tot"))
    # bowker's unordered-pair fold: m_ij = n_ij + n_ji, no self-join
    pairs = (
        cells.where(F.col("__a") != F.col("__b"))
        .select(
            "__k",
            F.least("__a", "__b").alias("__lo"),
            F.greatest("__a", "__b").alias("__hi"),
            F.col("__n"),
        )
        .groupBy("__k", "__lo", "__hi")
        .agg(F.sum("__n").alias("__m"))
    )
    # denominator: sum of pairwise products of the three m values,
    # (S^2 - sum m^2)/2 — exact integers, missing pairs are true zeros
    den = pairs.groupBy("__k").agg(
        F.sum("__m").alias("__sm"),
        F.sum(F.col("__m") * F.col("__m")).alias("__sm2"),
    )
    # numerator: each pair weights the squared d of the THIRD category
    # (exactly one match per pair when k_categories = 3)
    num = (
        pairs.alias("p")
        .join(
            margins.alias("g"),
            (F.col("p.__k") == F.col("g.__k"))
            & (F.col("g.__cat") != F.col("p.__lo"))
            & (F.col("g.__cat") != F.col("p.__hi")),
        )
        .select(
            F.col("p.__k").alias("__k"),
            (F.col("p.__m") * F.col("g.__d") * F.col("g.__d")).alias("__t"),
        )
        .groupBy("__k")
        .agg(F.sum("__t").alias("__num"))
    )
    j = (
        tot.join(kc, "__k")
        .join(den, "__k", "left")
        .join(num, "__k", "left")
    )
    d2 = (
        F.col("__sm") * F.col("__sm") - F.col("__sm2")
    ).cast("double") / 2.0
    ok = (F.col("__kc") == 3) & F.col("__sm").isNotNull() & (d2 > 0)
    chi2 = F.when(ok, F.col("__num").cast("double") / d2)
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__tot").cast("long").alias("n"),
        F.col("__kc").cast("long").alias("k_categories"),
        F.round(chi2 + F.lit(1e-9), 6).alias("chi2"),
        F.when(ok, F.lit(2)).cast("long").alias("dof"),
    )
