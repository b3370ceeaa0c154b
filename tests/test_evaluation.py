"""Unit tests for the model-evaluation aggregates (AUC / calibration /
kappa) against hand-computed statistics."""

import pytest

from mr_dice_spark.operators.evaluation import (
    auc_by_group,
    calibration_bins,
    cohens_kappa,
)


def test_auc_perfect_and_random_separation(spark):
    rows = (
        # group 'perfect': positives strictly above negatives -> AUC 1.0
        [("perfect", 0.9, True), ("perfect", 0.8, True),
         ("perfect", 0.2, False), ("perfect", 0.1, False)]
        # group 'inverse': positives strictly below -> AUC 0.0
        + [("inverse", 0.1, True), ("inverse", 0.9, False)]
        # group 'onlypos': no negatives -> NULL
        + [("onlypos", 0.5, True)]
    )
    df = spark.createDataFrame(rows, "g string, s double, y boolean")
    got = {r["g"]: r["auc"] for r in auc_by_group(df, "g", "s", "y").collect()}
    assert got["perfect"] == 1.0
    assert got["inverse"] == 0.0
    assert got["onlypos"] is None


def test_auc_midrank_ties_exact(spark):
    # scores: pos {0.5, 0.3}, neg {0.5, 0.1}. Tie at 0.5 counts 1/2:
    # pairs = (0.5>0.1)=1, (0.5~0.5)=0.5, (0.3>0.1)=1, (0.3<0.5)=0
    # AUC = 2.5 / 4 = 0.625
    rows = [("g", 0.5, True), ("g", 0.3, True), ("g", 0.5, False), ("g", 0.1, False)]
    df = spark.createDataFrame(rows, "g string, s double, y boolean")
    [r] = auc_by_group(df, "g", "s", "y").collect()
    assert r["auc"] == pytest.approx(0.625, abs=1e-12)
    assert (r["n_pos"], r["n_neg"]) == (2, 2)


def test_calibration_bins_clamp_and_rates(spark):
    rows = [
        (0.05, False), (0.05, True),   # bin 0: rate 0.5
        (1.0, True),                   # score exactly 1.0 -> top bin
        (-0.2, False), (1.7, True),    # out-of-range clamps to edge bins
        (None, True), (0.5, None),     # NULLs excluded
    ]
    df = spark.createDataFrame(rows, "s double, y boolean")
    got = {r["bin"]: r for r in calibration_bins(df, "s", "y", n_bins=10).collect()}
    assert set(got) == {0, 9}
    assert got[0]["n"] == 3 and got[0]["pos_rate"] == pytest.approx(1 / 3)
    assert got[9]["n"] == 2 and got[9]["pos_rate"] == 1.0
    with pytest.raises(ValueError):
        calibration_bins(df, "s", "y", n_bins=0)


def test_cohens_kappa_known_value(spark):
    # 2x2 example: agree on 45+35=80 of 100 -> po = 0.8;
    # marginals a: 50/50, b: 60/40 -> pe = 0.5*0.6 + 0.5*0.4 = 0.5
    # kappa = (0.8 - 0.5) / 0.5 = 0.6
    rows = [("x", "x")] * 45 + [("x", "y")] * 5 + [("y", "x")] * 15 + [("y", "y")] * 35
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cohens_kappa(df, "a", "b").collect()
    assert r["n"] == 100
    assert r["po"] == pytest.approx(0.8)
    assert r["pe"] == pytest.approx(0.5 * 0.6 + 0.5 * 0.4)
    assert r["kappa"] == pytest.approx((0.8 - 0.5) / 0.5)


def test_cohens_kappa_degenerate_single_category(spark):
    df = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    [r] = cohens_kappa(df, "a", "b").collect()
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None


def test_spearman_monotone_and_reversed(spark):
    from mr_dice_spark.operators.evaluation import spearman_by_group

    rows = [("up", float(i), float(i * i), i) for i in range(10)]
    rows += [("down", float(i), float(-i), 100 + i) for i in range(10)]
    rows += [("single", 1.0, 1.0, 999)]
    df = spark.createDataFrame(rows, "g string, x double, y double, id long")
    got = {r["g"]: (r["n"], r["spearman"]) for r in
           spearman_by_group(df, "g", "x", "y", "id").collect()}
    assert got["up"] == (10, 1.0)
    assert got["down"] == (10, -1.0)
    assert got["single"][0] == 1 and got["single"][1] is None


def test_spearman_matches_closed_form_with_ties(spark):
    """Ties resolve by the id tiebreak: rho must equal the permutation
    closed form computed directly in Python with the same total order."""
    from mr_dice_spark.operators.evaluation import spearman_by_group

    rows = [("g", x, y, i) for i, (x, y) in enumerate(
        [(1.0, 5.0), (1.0, 2.0), (3.0, 2.0), (2.0, 9.0), (3.0, 1.0), (2.0, 2.0)]
    )]
    df = spark.createDataFrame(rows, "g string, x double, y double, id long")
    xs = sorted(range(len(rows)), key=lambda i: (rows[i][1], rows[i][3]))
    ys = sorted(range(len(rows)), key=lambda i: (rows[i][2], rows[i][3]))
    rx = {i: k + 1 for k, i in enumerate(xs)}
    ry = {i: k + 1 for k, i in enumerate(ys)}
    n = len(rows)
    d2 = sum((rx[i] - ry[i]) ** 2 for i in range(n))
    expect = 1.0 - 6.0 * d2 / (n * (n * n - 1))
    [r] = spearman_by_group(df, "g", "x", "y", "id").collect()
    assert abs(r["spearman"] - expect) < 1e-12


def test_bradley_terry_matches_python_mm(spark):
    """3-item tournament vs a direct Python MM recurrence — value-exact
    after 5 sweeps; stronger item must also rank higher."""
    from mr_dice_spark.operators.evaluation import bradley_terry

    tallies = [("a", "b", 7, 10), ("a", "c", 9, 10), ("b", "c", 5, 10)]
    df = spark.createDataFrame(tallies, "a string, b string, wins_a long, n long")
    directed: dict[tuple[str, str], int] = {}
    wins: dict[str, int] = {}
    games: dict[str, int] = {}
    for a, b, wa, n in tallies:
        directed[(a, b)] = n
        directed[(b, a)] = n
        wins[a] = wins.get(a, 0) + wa
        wins[b] = wins.get(b, 0) + (n - wa)
        games[a] = games.get(a, 0) + n
        games[b] = games.get(b, 0) + n
    p = {i: 1.0 for i in wins}
    for _ in range(5):
        p = {
            i: wins[i] / sum(n / (p[i] + p[j]) for (ii, j), n in directed.items() if ii == i)
            for i in p
        }
    got = {r["item"]: r for r in bradley_terry(df, "a", "b", "wins_a", "n").collect()}
    for i in p:
        assert abs(got[i]["strength"] - p[i]) < 1e-9
        assert got[i]["wins"] == wins[i] and got[i]["games"] == games[i]
    assert got["a"]["strength"] > got["b"]["strength"] > got["c"]["strength"]


def test_bradley_terry_validates(spark):
    import pytest

    from mr_dice_spark.operators.evaluation import bradley_terry

    df = spark.createDataFrame([("a", "b", 1, 2)], "a string, b string, wins_a long, n long")
    with pytest.raises(ValueError, match="n_iter"):
        bradley_terry(df, n_iter=-1)


def test_welch_t_matches_python_closed_form(spark):
    from mr_dice_spark.operators.evaluation import welch_t_test

    s1 = [10.0, 12.0, 11.0, 14.0, 9.0]
    s2 = [8.0, 7.5, 9.5, 8.2, 7.8, 9.1]
    rows = [("g", True, v) for v in s1] + [("g", False, v) for v in s2]
    rows += [("tiny", True, 1.0), ("tiny", False, 2.0), ("tiny", False, 3.0)]
    df = spark.createDataFrame(rows, "g string, s boolean, v double")
    got = {r["g"]: r for r in welch_t_test(df, "g", "s", "v").collect()}

    def mv(xs):
        m = sum(xs) / len(xs)
        return m, sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    m1, v1 = mv(s1)
    m2, v2 = mv(s2)
    se1, se2 = v1 / len(s1), v2 / len(s2)
    t = (m1 - m2) / (se1 + se2) ** 0.5
    dof = (se1 + se2) ** 2 / (se1 ** 2 / (len(s1) - 1) + se2 ** 2 / (len(s2) - 1))
    r = got["g"]
    assert r["n1"] == 5 and r["n2"] == 6
    assert abs(r["t_stat"] - t) < 1e-12
    assert abs(r["df_welch"] - dof) < 1e-12
    # n1 < 2: t/df NULL, mean_diff still reported
    assert got["tiny"]["t_stat"] is None and got["tiny"]["df_welch"] is None
    assert abs(got["tiny"]["mean_diff"] - (1.0 - 2.5)) < 1e-12


def test_bcubed_hand_computed_and_extremes(spark):
    """Textbook example: gold {1,2,3 | 4,5}, predicted {1,2 | 3,4,5}.
    Per-record P: 1,1,1/3,2/3... -> computed by hand below; perfect
    clustering scores 1.0 everywhere."""
    from mr_dice_spark.operators.evaluation import bcubed_scores

    rows = [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"), (4, "b", "y"), (5, "b", "y")]
    df = spark.createDataFrame(rows, "id long, cl string, gold string")
    [r] = bcubed_scores(df, "id", "cl", "gold").collect()
    # precision per record: 1:2/2? cluster a={1,2} both gold x -> 1, 1
    # cluster b={3,4,5}: record 3 (gold x): 1/3; records 4,5 (gold y): 2/3
    p = (1 + 1 + 1 / 3 + 2 / 3 + 2 / 3) / 5
    # recall per record: gold x={1,2,3}: r1=r2=2/3, r3=1/3; gold y={4,5}: 1, 1
    rc = (2 / 3 + 2 / 3 + 1 / 3 + 1 + 1) / 5
    assert abs(r["bcubed_precision"] - p) < 1e-12
    assert abs(r["bcubed_recall"] - rc) < 1e-12
    assert abs(r["bcubed_f1"] - 2 * p * rc / (p + rc)) < 1e-12
    perfect = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y")], "id long, cl string, gold string"
    )
    [q] = bcubed_scores(perfect, "id", "cl", "gold").collect()
    assert q["bcubed_precision"] == 1.0 and q["bcubed_recall"] == 1.0


def test_adjusted_rand_matches_sklearn_formula(spark):
    """Hand example vs a direct Python computation of the ARI closed
    form; perfect = 1.0, random-ish small example in (0, 1)."""
    from math import comb

    from mr_dice_spark.operators.evaluation import adjusted_rand_index

    rows = [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"), (4, "b", "y"), (5, "b", "y")]
    df = spark.createDataFrame(rows, "id long, cl string, gold string")
    [r] = adjusted_rand_index(df, "id", "cl", "gold").collect()
    from collections import Counter
    cells = Counter((c, g) for _, c, g in rows)
    nc = Counter(c for _, c, _ in rows)
    ng = Counter(g for _, _, g in rows)
    so = sum(comb(v, 2) for v in cells.values())
    sc = sum(comb(v, 2) for v in nc.values())
    sg = sum(comb(v, 2) for v in ng.values())
    e = sc * sg / comb(5, 2)
    expect = (so - e) / ((sc + sg) / 2 - e)
    assert abs(r["ari"] - expect) < 1e-12
    perfect = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y")], "id long, cl string, gold string"
    )
    [q] = adjusted_rand_index(perfect, "id", "cl", "gold").collect()
    assert abs(q["ari"] - 1.0) < 1e-12
    # degenerate: every record its own cluster on both sides -> M = E -> NULL
    deg = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, cl string, gold string"
    )
    [d] = adjusted_rand_index(deg, "id", "cl", "gold").collect()
    assert d["ari"] is None


def test_conformal_coverage_honest_and_drifted(spark):
    """Exact linear data: residuals are 0 everywhere -> q = 0 and
    coverage = 1.0. A level-shifted test regime busts coverage to 0."""
    from mr_dice_spark.operators.evaluation import conformal_residual_coverage

    lin = [("g", float(x), 2.0 + 3.0 * x,
            "fit" if x < 10 else ("calib" if x < 20 else "test"))
           for x in range(30)]
    df = spark.createDataFrame(lin, "g string, x double, y double, sp string")
    [r] = conformal_residual_coverage(df, "g", "x", "y", "sp").collect()
    assert r["n_fit"] == 10 and r["n_calib"] == 10 and r["n_test"] == 10
    assert abs(r["q_resid"]) < 1e-9 and abs(r["coverage"] - 1.0) < 1e-12

    drift = [(g, x, y + (50.0 if sp == "test" else 0.0), sp)
             for g, x, y, sp in lin]
    df2 = spark.createDataFrame(drift, "g string, x double, y double, sp string")
    [d] = conformal_residual_coverage(df2, "g", "x", "y", "sp").collect()
    assert d["coverage"] == 0.0  # every shifted test point escapes the band


def test_kaplan_meier_textbook_with_censoring(spark):
    """Classic example: durations [1e, 2c, 3e, 4e, 5c] (e=event,
    c=censored). S(1)=4/5; S(3)=4/5 * 2/3; S(4)=4/5 * 2/3 * 1/2.
    Censor-only times emit no row; n_risk honors censoring."""
    from mr_dice_spark.operators.evaluation import kaplan_meier

    rows = [("g", 1.0, True), ("g", 2.0, False), ("g", 3.0, True),
            ("g", 4.0, True), ("g", 5.0, False)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    got = {r["t"]: r for r in kaplan_meier(df, "g", "t", "e").collect()}
    assert set(got) == {1.0, 3.0, 4.0}     # censor times 2, 5 emit no row
    assert got[1.0]["n_risk"] == 5 and abs(got[1.0]["survival"] - 4 / 5) < 1e-6
    assert got[3.0]["n_risk"] == 3
    assert abs(got[3.0]["survival"] - 4 / 5 * 2 / 3) < 1e-6
    assert got[4.0]["n_risk"] == 2
    assert abs(got[4.0]["survival"] - 4 / 5 * 2 / 3 * 1 / 2) < 1e-6


def test_kaplan_meier_everyone_dies_hits_zero(spark):
    from mr_dice_spark.operators.evaluation import kaplan_meier

    rows = [("g", 1.0, True), ("g", 1.0, True), ("g", 2.0, True)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    got = {r["t"]: r["survival"] for r in kaplan_meier(df, "g", "t", "e").collect()}
    assert abs(got[1.0] - 1 / 3) < 1e-9
    assert got[2.0] == 0.0                  # d = n at t=2 -> exact zero


def test_cuped_known_theta_and_unbiasedness(spark):
    """y = 2x + e with x uniform: theta ~ 2, variance collapses to
    var(e); an uncorrelated covariate leaves means AND variance ~
    unchanged (the adjustment is a no-op in expectation); NULL units
    are excluded; a constant covariate (var=0) falls back to theta=0."""
    import random

    from mr_dice_spark.operators.evaluation import cuped_adjusted_means

    rng = random.Random(3)
    rows = []
    for i in range(400):
        x = rng.uniform(0, 10)
        e = rng.gauss(0, 0.5)
        rows.append((i % 2, x, 2.0 * x + e))
    rows.append((0, None, 1.0))   # NULL covariate excluded
    rows.append((1, 1.0, None))   # NULL metric excluded
    df = spark.createDataFrame(rows, "group int, x double, y double")
    got = {r["group"]: r for r in cuped_adjusted_means(df, "group", "y", "x").collect()}
    assert got[0]["n"] + got[1]["n"] == 400
    for g in (0, 1):
        r = got[g]
        # adjusted variance ~ var(e) = 0.25 vs metric variance ~ 4*var(x) ~ 33
        assert r["var_adjusted"] < 0.5 and r["var_metric"] > 20
        assert r["var_reduction"] > 0.95
        # unbiasedness: adjustment shifts each group mean by at most the
        # group-vs-global covariate imbalance * theta
        assert abs(r["mean_adjusted"] - r["mean_metric"]) < 2.0
    # uncorrelated covariate: no-op within noise
    rows2 = [(i % 2, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(400)]
    df2 = spark.createDataFrame(rows2, "group int, x double, y double")
    for r in cuped_adjusted_means(df2, "group", "y", "x").collect():
        assert abs(r["var_reduction"]) < 0.1
    # constant covariate: var(x)=0 -> theta NULL -> coalesce 0 -> identity
    df3 = spark.createDataFrame(
        [(0, 5.0, float(v)) for v in range(10)], "group int, x double, y double"
    )
    [r3] = cuped_adjusted_means(df3, "group", "y", "x").collect()
    assert r3["mean_adjusted"] == r3["mean_metric"]
    assert r3["var_adjusted"] == r3["var_metric"]


def test_srm_check_flags_planted_mismatch_and_passes_clean(spark):
    """A clean 50/50 split stays green; a large planted loss in one arm
    fires the flag; unknown arms and bad share declarations raise;
    declared-but-empty arms charge their full expected count."""
    import pytest

    from mr_dice_spark.operators.evaluation import srm_check

    clean = spark.createDataFrame([(i, i % 2) for i in range(1000)], "id long, arm int")
    got = {r["arm"]: r for r in srm_check(clean, "arm", {0: 0.5, 1: 0.5}).collect()}
    assert not got[0]["srm_flag"] and got[0]["chi2"] == 0.0
    broken = clean.where("NOT (arm = 1 AND id < 300)")  # drop 150 arm-1 units
    got2 = {r["arm"]: r for r in srm_check(broken, "arm", {0: 0.5, 1: 0.5}).collect()}
    assert got2[1]["srm_flag"] and got2[1]["chi2"] > 3.841
    assert got2[0]["n"] == 500 and got2[1]["n"] == 350
    # declared arm with zero rows still contributes its expected count
    one_arm = spark.createDataFrame([(i, 0) for i in range(100)], "id long, arm int")
    got3 = {r["arm"]: r for r in srm_check(one_arm, "arm", {0: 0.5, 1: 0.5}).collect()}
    assert got3[1]["n"] == 0 and got3[1]["srm_flag"]
    with pytest.raises(ValueError, match="unknown arm|integrity failure"):
        srm_check(clean, "arm", {0: 1.0}).collect()
    with pytest.raises(ValueError, match="sum to 1"):
        srm_check(clean, "arm", {0: 0.5, 1: 0.4})
    with pytest.raises(ValueError, match="share must be > 0"):
        srm_check(clean, "arm", {0: 1.5, 1: -0.5})


def test_krippendorff_alpha_hand_values(spark):
    """The coincidence-form alpha on hand-checkable fixtures: mixed
    agreement 0.4444 (Do=2, De=3.6), perfect agreement 1.0, singly-rated
    units excluded, systematic disagreement negative."""
    from mr_dice_spark.operators.evaluation import krippendorff_alpha_nominal

    rows = [(1, "a"), (1, "a"), (2, "b"), (2, "b"), (3, "a"), (3, "b")]
    df = spark.createDataFrame(rows, "u long, c string")
    [r] = krippendorff_alpha_nominal(df, "u", "c").collect()
    assert r["n_units"] == 3 and r["n_ratings"] == 6
    assert abs(r["alpha"] - 4 / 9) < 1e-6
    # singleton unit adds nothing
    df2 = spark.createDataFrame(rows + [(4, "z")], "u long, c string")
    [r2] = krippendorff_alpha_nominal(df2, "u", "c").collect()
    assert (r2["n_units"], r2["n_ratings"], r2["alpha"]) == (3, 6, r["alpha"])
    # perfect agreement
    df3 = spark.createDataFrame([(1, "a")] * 3 + [(2, "b")] * 2, "u long, c string")
    assert krippendorff_alpha_nominal(df3, "u", "c").first()["alpha"] == 1.0
    # systematic disagreement: every unit splits across the two labels
    df4 = spark.createDataFrame(
        [(u, l) for u in range(6) for l in ("x", "y")], "u long, c string"
    )
    assert krippendorff_alpha_nominal(df4, "u", "c").first()["alpha"] < 0


def test_jackknife_ratio_ci_matches_hand_computation(spark):
    """Delete-one-bucket jackknife against the literal Python recurrence
    on the same md5-bucketed partition; degenerate single-group check and
    parameter validation."""
    import hashlib

    import pytest

    from mr_dice_spark.operators.evaluation import jackknife_ratio_ci

    rows = [(f"u{i}", float(10 + (i * 7) % 23), float(1 + i % 3)) for i in range(40)]
    df = spark.createDataFrame(
        [("g",) + r for r in rows], "grp string, unit string, num double, den double"
    )
    B = 5
    [got] = jackknife_ratio_ci(
        df, "grp", "unit", "num", "den", n_buckets=B, seed="s"
    ).collect()

    def bucket(u):
        return int(hashlib.md5(("s" + u).encode()).hexdigest()[:8], 16) % B

    sums = {}
    for u, n, d in rows:
        bn, bd = sums.get(bucket(u), (0.0, 0.0))
        sums[bucket(u)] = (bn + n, bd + d)
    pinned = {b: (round(bn + 1e-9, 4), round(bd + 1e-9, 4)) for b, (bn, bd) in sums.items()}
    sn = sum(v[0] for v in pinned.values())
    sd = sum(v[1] for v in pinned.values())
    tis = [(sn - bn) / (sd - bd) for bn, bd in pinned.values()]
    g = len(tis)
    tm = sum(tis) / g
    var = (g - 1.0) / g * (sum(t * t for t in tis) - g * tm * tm)
    se = max(var, 0.0) ** 0.5
    theta = sn / sd
    assert got["n_rows"] == 40 and got["n_buckets_observed"] == g
    assert abs(got["theta"] - theta) < 1e-6
    assert abs(got["se_jack"] - se) < 1e-6
    assert abs(got["ci_lo"] - (theta - 1.96 * se)) < 1e-6
    assert abs(got["ci_hi"] - (theta + 1.96 * se)) < 1e-6
    with pytest.raises(ValueError, match="n_buckets"):
        jackknife_ratio_ci(df, "grp", "unit", "num", "den", n_buckets=1)


def test_mcnemar_hand_counts_and_zero_discordant(spark):
    """(|n01-n10|-1)^2/(n01+n10) on hand counts; all-concordant pairs
    give chi2 = 0.0 (not NULL/inf); NULL rows excluded."""
    from mr_dice_spark.operators.evaluation import mcnemar_test

    rows = (
        [(True, False)] * 15 + [(False, True)] * 5
        + [(True, True)] * 30 + [(False, False)] * 10
        + [(None, True)]
    )
    df = spark.createDataFrame(rows, "ac boolean, bc boolean")
    [r] = mcnemar_test(df, "ac", "bc").collect()
    assert r["n_pairs"] == 60
    assert (r["a_only_correct"], r["b_only_correct"]) == (15, 5)
    assert abs(r["chi2"] - (abs(15 - 5) - 1) ** 2 / 20) < 1e-6  # 4.05
    assert r["significant"] is True
    conc = spark.createDataFrame([(True, True)] * 8, "ac boolean, bc boolean")
    [r2] = mcnemar_test(conc, "ac", "bc").collect()
    assert r2["chi2"] == 0.0 and r2["significant"] is False


def test_mann_whitney_matches_literal_rank_computation(spark):
    """Tie-corrected U/z against a literal average-rank computation on a
    fixture WITH ties; empty-class group yields NULL z."""
    from mr_dice_spark.operators.evaluation import mann_whitney_u_by_group

    vals_a = [1.0, 2.0, 2.0, 5.0, 7.0]
    vals_b = [2.0, 3.0, 5.0, 6.0, 8.0, 9.0]
    rows = [("g", "A", v) for v in vals_a] + [("g", "B", v) for v in vals_b]
    rows += [("empty", "A", 1.0), ("empty", "A", 2.0)]
    df = spark.createDataFrame(rows, "grp string, cls string, v double")
    out = {r["grp"]: r for r in mann_whitney_u_by_group(df, "grp", "cls", "v", "A").collect()}

    allv = sorted(vals_a + vals_b)
    def avgrank(v):
        lo = allv.index(v)
        return lo + (allv.count(v) + 1) / 2
    ra = sum(avgrank(v) for v in vals_a)
    na, nb = len(vals_a), len(vals_b)
    n = na + nb
    u = ra - na * (na + 1) / 2
    mu = na * nb / 2
    tie3 = sum(c ** 3 - c for c in {v: allv.count(v) for v in set(allv)}.values())
    s2 = na * nb / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u - mu - 0.5 * (1 if u > mu else -1)) / s2 ** 0.5
    r = out["g"]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["u_a"] == u and r["mu"] == mu
    assert abs(r["sigma"] - s2 ** 0.5) < 1e-6
    assert abs(r["z"] - z) < 1e-6
    assert out["empty"]["z"] is None and out["empty"]["n_b"] == 0


def test_ndcg_hand_example_and_edge_cases(spark):
    """DCG/IDCG on a worked 4-item example; perfect ranking => 1.0;
    all-zero relevance => ndcg 0.0; k validation."""
    import math

    import pytest

    from mr_dice_spark.operators.evaluation import ndcg_at_k

    # system order by score desc: ids 1(rel3), 2(rel0), 3(rel2), 4(rel1)
    rows = [("q", 1, 9.0, 3), ("q", 2, 8.0, 0), ("q", 3, 7.0, 2), ("q", 4, 6.0, 1)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    [r] = ndcg_at_k(df, "q", "id", "s", "rel", k=3).collect()
    dcg = 7 / math.log2(2) + 0 / math.log2(3) + 3 / math.log2(4)
    idcg = 7 / math.log2(2) + 3 / math.log2(3) + 1 / math.log2(4)
    assert abs(r["dcg"] - dcg) < 1e-6 and abs(r["idcg"] - idcg) < 1e-6
    assert abs(r["ndcg"] - dcg / idcg) < 1e-6 and r["n_items"] == 4
    # ideal ranking scores => ndcg exactly 1
    perfect = spark.createDataFrame(
        [("q", i, 10.0 - i, 3 - i) for i in range(4)], "q string, id long, s double, rel int"
    )
    assert ndcg_at_k(perfect, "q", "id", "s", "rel", k=4).first()["ndcg"] == 1.0
    # no relevant item: conventionally 0, not NULL
    hopeless = spark.createDataFrame(
        [("q", i, float(i), 0) for i in range(3)], "q string, id long, s double, rel int"
    )
    assert ndcg_at_k(hopeless, "q", "id", "s", "rel").first()["ndcg"] == 0.0
    with pytest.raises(ValueError, match="k must be"):
        ndcg_at_k(df, "q", "id", "s", "rel", k=0)


def test_two_proportion_z_hand_counts_and_degenerate(spark):
    from mr_dice_spark.operators.evaluation import two_proportion_z

    rows = (
        [("a", True)] * 30 + [("a", False)] * 70
        + [("b", True)] * 20 + [("b", False)] * 80
        + [("c", True)] * 5          # excluded arm
        + [("a", None)]              # excluded null
    )
    df = spark.createDataFrame(rows, "arm string, suc boolean")
    [r] = two_proportion_z(df, "arm", "suc", "a", "b").collect()
    assert (r["n_a"], r["n_b"], r["x_a"], r["x_b"]) == (100, 100, 30, 20)
    pa, pb, pp = 0.3, 0.2, 0.25
    z = (pa - pb) / (pp * (1 - pp) * (1 / 100 + 1 / 100)) ** 0.5
    assert abs(r["z"] - z) < 1e-6
    assert r["rate_a"] == 0.3 and r["rate_b"] == 0.2
    allfail = spark.createDataFrame(
        [("a", False)] * 5 + [("b", False)] * 5, "arm string, suc boolean"
    )
    assert two_proportion_z(allfail, "arm", "suc", "a", "b").first()["z"] is None


def test_post_stratified_effect_hand_strata(spark):
    from mr_dice_spark.operators.evaluation import post_stratified_effect

    rows = (
        [("s1", "t", 10.0)] * 2 + [("s1", "c", 8.0)] * 2
        + [("s2", "t", 20.0)] * 4 + [("s2", "c", 15.0)] * 2
        + [("s3", "t", 7.0)] * 2                     # control missing
    )
    df = spark.createDataFrame(rows, "s string, arm string, v double")
    got = {
        r["s"]: r
        for r in post_stratified_effect(df, "arm", "s", "v", "t", "c").collect()
    }
    n = 12
    assert got["s1"]["diff"] == 2.0 and got["s1"]["weight"] == round(4 / n, 6)
    assert abs(got["s1"]["contribution"] - round(4 / n, 6) * 2.0) < 1e-9
    assert got["s2"]["diff"] == 5.0 and got["s2"]["n_a"] == 4
    assert got["s3"]["diff"] is None and got["s3"]["contribution"] is None
    # post-stratified effect = sum of contributions over complete strata
    eff = sum(r["contribution"] for r in got.values() if r["contribution"])
    assert abs(eff - (round(4 / n, 6) * 2.0 + round(6 / n, 6) * 5.0)) < 1e-9


def test_wilson_ci_hand_values_and_bounds(spark):
    """Wilson interval against literal arithmetic; extreme rates stay
    inside [0, 1] where Wald would escape."""
    from mr_dice_spark.operators.evaluation import wilson_ci

    rows = [("g", True)] * 3 + [("g", False)] * 7 + [("z", True)] * 5
    df = spark.createDataFrame(rows, "g string, s boolean")
    got = {r["g"]: r for r in wilson_ci(df, "g", "s", z=1.96).collect()}
    r = got["g"]
    p, n, z2 = 0.3, 10.0, 1.96 * 1.96
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = 1.96 * ((p * (1 - p) / n + z2 / (4 * n * n)) ** 0.5) / denom
    assert (r["n"], r["x"], r["rate"]) == (10, 3, 0.3)
    assert abs(r["ci_lo"] - (center - half)) < 1e-6
    assert abs(r["ci_hi"] - (center + half)) < 1e-6
    rz = got["z"]  # p = 1 at n = 5: Wald CI is [1, 1]; Wilson pulls lo in
    assert 0.0 <= rz["ci_lo"] < 1.0 and rz["ci_hi"] <= 1.0


def test_sprt_walk_matches_python_and_crosses(spark):
    """The llr trace must equal the literal Wald walk, and a planted
    shifted-rate series must cross reject_h0 while a null-rate series
    walks to accept_h0."""
    import datetime as dt
    import math

    import pytest

    from mr_dice_spark.operators.evaluation import sprt_binary_monitor

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # group 'null': 20% success per 10-trial bucket; each bucket
    # drifts the llr by 2*ln(1.25)+8*ln(.9375) ~ -0.07, so 30 buckets
    # (-2.1) cross the lower boundary ln(0.2/0.95) ~ -1.56 -> accept
    # group 'shift': 50% success per bucket -> reject fast
    for h in range(30):
        for i in range(10):
            rows.append(("null", t0 + dt.timedelta(hours=h), i < 2))
            rows.append(("shift", t0 + dt.timedelta(hours=h), i < 5))
    df = spark.createDataFrame(rows, "g string, ts timestamp, s boolean")
    out = sprt_binary_monitor(df, "g", "ts", "s", p0=0.2, p1=0.25)
    rowso = sorted(out.collect(), key=lambda r: (r["g"], r["bucket"]))
    win, lose = math.log(0.25 / 0.2), math.log(0.75 / 0.8)
    llr = 0.0
    for r in (x for x in rowso if x["g"] == "null"):
        llr += 2 * win + 8 * lose
        assert abs(r["llr"] - round(llr + 1e-9, 6)) < 1e-9
    assert rowso[0]["g"] == "null"
    assert [r["verdict"] for r in rowso if r["g"] == "null"][-1] == "accept_h0"
    assert "reject_h0" in {r["verdict"] for r in rowso if r["g"] == "shift"}
    with pytest.raises(ValueError, match="p0, p1"):
        sprt_binary_monitor(df, "g", "ts", "s", p0=0.2, p1=0.2)


def test_eb_shrinkage_pulls_small_samples_and_falls_back(spark):
    from mr_dice_spark.operators.evaluation import eb_shrunk_rates

    rows = []
    # items with very different raw rates and sizes
    rows += [("big_hi", True)] * 90 + [("big_hi", False)] * 10      # .9 @ 100
    rows += [("small_hi", True)] * 9 + [("small_hi", False)] * 1    # .9 @ 10
    rows += [("big_lo", True)] * 10 + [("big_lo", False)] * 90
    rows += [("mid", True)] * 25 + [("mid", False)] * 25
    df = spark.createDataFrame(rows, "i string, s boolean")
    got = {r["i"]: r for r in eb_shrunk_rates(df, "i", "s").collect()}
    assert got["big_hi"]["prior_alpha"] is not None
    m = sum(r["raw_rate"] for r in got.values()) / 4
    # every shrunk rate sits between its raw rate and the prior mean
    for r in got.values():
        lo, hi = sorted((r["raw_rate"], m))
        assert lo - 1e-6 <= r["shrunk_rate"] <= hi + 1e-6
    # the small sample moves further toward the mean than the big one
    assert abs(got["small_hi"]["shrunk_rate"] - 0.9) > abs(
        got["big_hi"]["shrunk_rate"] - 0.9
    )
    # zero between-item variance: fallback to raw, NULL prior
    flat = spark.createDataFrame(
        [("a", True), ("a", False), ("b", True), ("b", False)], "i string, s boolean"
    )
    for r in eb_shrunk_rates(flat, "i", "s").collect():
        assert r["prior_alpha"] is None and r["shrunk_rate"] == r["raw_rate"]


def test_rbo_identical_disjoint_and_validation(spark):
    import pytest

    from mr_dice_spark.operators.evaluation import rank_biased_overlap

    k, p = 10, 0.9
    a = spark.createDataFrame([(i, i) for i in range(1, 21)], "id long, rnk int")
    ident = rank_biased_overlap(a, a, "id", "rnk", k=k, p=p).first()
    # identical prefixes: X_d = d, RBO@k = (1-p) * sum p^(d-1) = 1 - p^k
    assert abs(ident["rbo"] - (1 - p ** k)) < 1e-6
    assert ident["agreement_at_k"] == 1.0 and ident["n_common"] == k
    b = spark.createDataFrame(
        [(i + 1000, i) for i in range(1, 21)], "id long, rnk int"
    )
    disj = rank_biased_overlap(a, b, "id", "rnk", k=k, p=p).first()
    assert disj["rbo"] == 0.0 and disj["n_common"] == 0
    with pytest.raises(ValueError, match="p must be"):
        rank_biased_overlap(a, a, "id", "rnk", k=k, p=1.0)


def test_average_precision_hand_values_and_ties(spark):
    # group 'perfect': both positives outrank both negatives -> AP 1.0
    # group 'mix': ranked desc = [pos(.9), neg(.8), pos(.7)]
    #   AP = (1/2)*(1/1) + (1/2)*(2/3) = 0.833333
    # group 'tied': pos and neg share score 0.5 plus a neg at 0.1 ->
    #   one block (tp=1, n=2): AP = (1/1)*(1/2) = 0.5 regardless of
    #   within-tie order; 'onlyneg' -> NULL ap
    rows = (
        [("perfect", 0.9, True), ("perfect", 0.8, True),
         ("perfect", 0.2, False), ("perfect", 0.1, False)]
        + [("mix", 0.9, True), ("mix", 0.8, False), ("mix", 0.7, True)]
        + [("tied", 0.5, True), ("tied", 0.5, False), ("tied", 0.1, False)]
        + [("onlyneg", 0.4, False)]
    )
    from mr_dice_spark.operators.evaluation import average_precision_by_group

    df = spark.createDataFrame(rows, "g string, s double, y boolean")
    got = {r["g"]: r for r in average_precision_by_group(df, "g", "s", "y").collect()}
    assert got["perfect"]["ap"] == pytest.approx(1.0, abs=1e-6)
    assert got["mix"]["ap"] == pytest.approx(5.0 / 6.0, abs=1e-6)
    assert got["tied"]["ap"] == pytest.approx(0.5, abs=1e-6)
    assert got["onlyneg"]["ap"] is None
    assert (got["mix"]["n_pos"], got["mix"]["n_neg"]) == (2, 1)


def test_brier_decomposition_identity_on_binned_forecasts(spark):
    # forecasts constant within each bin -> within-bin variance and
    # covariance vanish, so brier == reliability - resolution +
    # uncertainty EXACTLY (the Murphy identity for the binned forecaster)
    from mr_dice_spark.operators.evaluation import brier_decomposition

    rows = (
        [(0.05, True)] * 1 + [(0.05, False)] * 9     # bin 0: obar 0.1
        + [(0.85, True)] * 7 + [(0.85, False)] * 3   # bin 8: obar 0.7
    )
    df = spark.createDataFrame(rows, "s double, y boolean")
    [r] = brier_decomposition(df, "s", "y", n_bins=10).collect()
    assert r["n"] == 20
    assert r["base_rate"] == pytest.approx(0.4, abs=1e-6)
    assert r["uncertainty"] == pytest.approx(0.24, abs=1e-6)
    # rel = (10*(.05-.1)^2 + 10*(.85-.7)^2)/20 = (0.025+0.225)/20
    assert r["reliability"] == pytest.approx(0.0125, abs=1e-6)
    # res = (10*(.1-.4)^2 + 10*(.7-.4)^2)/20 = 0.09
    assert r["resolution"] == pytest.approx(0.09, abs=1e-6)
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=2e-6
    )


def test_decile_lift_hand_tiles(spark):
    # 10 rows, one group, scores 10..1, positives at the top 3 scores;
    # 5 tiles of 2 rows: tile 1 rate 1.0, tile 2 rate 0.5, rest 0.
    # base rate 0.3 -> lift 10/3, 5/3, 0, 0, 0; cum_gain 2/3, 1, 1, 1, 1
    from mr_dice_spark.operators.evaluation import decile_lift_by_group

    rows = [("g", float(10 - i), i < 3, i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, s double, y boolean, id long")
    out = decile_lift_by_group(df, "g", "s", "y", "id", n_tiles=5).collect()
    by_tile = {r["tile"]: r for r in sorted(out, key=lambda r: r["tile"])}
    assert [by_tile[t]["n"] for t in range(1, 6)] == [2] * 5
    assert by_tile[1]["lift"] == pytest.approx(10.0 / 3.0, abs=1e-6)
    assert by_tile[2]["lift"] == pytest.approx(5.0 / 3.0, abs=1e-6)
    assert by_tile[3]["lift"] == pytest.approx(0.0, abs=1e-6)
    assert by_tile[1]["cum_gain"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert by_tile[2]["cum_gain"] == pytest.approx(1.0, abs=1e-6)
    assert by_tile[5]["cum_gain"] == pytest.approx(1.0, abs=1e-6)


def test_decile_lift_ntile_remainder_and_tie_determinism(spark):
    # 7 rows / 3 tiles -> sizes 3,2,2 (NTILE remainder-first); all scores
    # tied -> the id tiebreak fixes membership, so repeated runs agree
    from mr_dice_spark.operators.evaluation import decile_lift_by_group

    rows = [("g", 1.0, i % 2 == 0, i) for i in range(7)]
    df = spark.createDataFrame(rows, "g string, s double, y boolean, id long")
    a = decile_lift_by_group(df, "g", "s", "y", "id", n_tiles=3).collect()
    b = decile_lift_by_group(df, "g", "s", "y", "id", n_tiles=3).collect()
    sizes = [r["n"] for r in sorted(a, key=lambda r: r["tile"])]
    assert sizes == [3, 2, 2]
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # ids 0..6 in id order; tile1 = ids 0,1,2 -> positives 0,2 -> n_pos 2
    assert sorted(r["n_pos"] for r in a) == [1, 1, 2]


def test_retrieval_eval_at_k_hand_values(spark):
    # k=2. Query A: first relevant at rank 2 (rr=.5, hits=1 of nrel=2);
    # B: first relevant at rank 3 > k (all zeros); C: no relevant ->
    # excluded from averages but counted in n_queries
    from mr_dice_spark.operators.evaluation import retrieval_eval_at_k

    rows = [
        ("A", 1, 3.0, False), ("A", 2, 2.0, True), ("A", 3, 1.0, True),
        ("B", 1, 5.0, False), ("B", 2, 4.0, False), ("B", 3, 3.0, True),
        ("C", 1, 9.0, False),
    ]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel boolean")
    [r] = retrieval_eval_at_k(df, "q", "id", "s", "rel", k=2).collect()
    assert (r["k"], r["n_queries"], r["n_evaluable"]) == (2, 3, 2)
    assert r["mrr"] == pytest.approx(0.25, abs=1e-6)
    assert r["hit_rate"] == pytest.approx(0.5, abs=1e-6)
    assert r["precision_at_k"] == pytest.approx(0.25, abs=1e-6)
    assert r["recall_at_k"] == pytest.approx(0.25, abs=1e-6)


def test_retrieval_eval_at_k_tiebreak_and_validation(spark):
    # equal scores break by id asc: relevant id=1 outranks id=2, so the
    # first relevant is rank 1; k < 1 raises
    from mr_dice_spark.operators.evaluation import retrieval_eval_at_k

    rows = [("A", 1, 1.0, True), ("A", 2, 1.0, False)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel boolean")
    [r] = retrieval_eval_at_k(df, "q", "id", "s", "rel", k=1).collect()
    assert r["mrr"] == pytest.approx(1.0, abs=1e-6)
    with pytest.raises(ValueError):
        retrieval_eval_at_k(df, "q", "id", "s", "rel", k=0)


def test_retrieval_eval_at_k_no_evaluable_queries_null(spark):
    from mr_dice_spark.operators.evaluation import retrieval_eval_at_k

    rows = [("A", 1, 1.0, False)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel boolean")
    [r] = retrieval_eval_at_k(df, "q", "id", "s", "rel", k=3).collect()
    assert r["n_evaluable"] == 0 and r["mrr"] is None


def test_logrank_hand_values(spark):
    # A: (1,evt),(3,evt); B: (2,evt),(3,cens). Pooled times:
    # t=1: n1=2,n=4,d=1 -> E=.5, V=.25; t=2: n1=1,n=3,d=1 -> E=1/3,
    # V=2/9; t=3: n1=1,n=2,d=1(A) -> E=.5, V=.25. O=2, E=4/3, V=13/18
    import math

    from mr_dice_spark.operators.evaluation import logrank_test

    rows = [("A", 1.0, True), ("A", 3.0, True),
            ("B", 2.0, True), ("B", 3.0, False)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = logrank_test(df, "g", "t", "e", "A").collect()
    assert (r["n_a"], r["n_b"], r["observed_a"]) == (2, 2, 2)
    assert r["expected_a"] == pytest.approx(4 / 3, abs=1e-6)
    assert r["variance"] == pytest.approx(13 / 18, abs=1e-6)
    assert r["z"] == pytest.approx((2 - 4 / 3) / math.sqrt(13 / 18), abs=1e-6)
    assert r["chi2"] == pytest.approx(
        (2 - 4 / 3) ** 2 / (13 / 18), abs=1e-4
    )


def test_logrank_one_empty_group_null(spark):
    # no class-A subjects: every E term is 0, V = 0 -> z/chi2 NULL
    from mr_dice_spark.operators.evaluation import logrank_test

    rows = [("B", 1.0, True), ("B", 2.0, True)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = logrank_test(df, "g", "t", "e", "A").collect()
    assert r["n_a"] == 0 and r["z"] is None and r["chi2"] is None


def test_logrank_identical_groups_zero_z(spark):
    # mirrored groups -> O == E exactly -> z = 0
    from mr_dice_spark.operators.evaluation import logrank_test

    rows = [("A", 1.0, True), ("A", 2.0, False),
            ("B", 1.0, True), ("B", 2.0, False)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = logrank_test(df, "g", "t", "e", "A").collect()
    assert r["z"] == pytest.approx(0.0, abs=1e-6)


def test_randomization_test_planted_effect(spark):
    # 10 units at y=100 in arm A vs 10 at y=0 in B: t_obs = 100, no
    # ~50/50 pseudo-split can reproduce it -> minimal p = 1/(n_perm+1)
    from mr_dice_spark.operators.evaluation import randomization_test

    rows = [(u, "A", 100.0) for u in range(10)] + [
        (u, "B", 0.0) for u in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "u long, c string, v double")
    [r] = randomization_test(df, "u", "c", "v", "A", n_perm=99, seed="t").collect()
    assert (r["n_units"], r["n_a"], r["n_b"]) == (20, 10, 10)
    assert r["t_obs"] == pytest.approx(100.0, abs=1e-6)
    assert r["n_exceed"] == 0
    assert r["p_value"] == pytest.approx(1 / 100, abs=1e-6)


def test_randomization_test_null_contract_and_validation(spark):
    from mr_dice_spark.operators.evaluation import randomization_test

    rows = [(1, "B", 1.0), (2, "B", 2.0)]
    df = spark.createDataFrame(rows, "u long, c string, v double")
    [r] = randomization_test(df, "u", "c", "v", "A", n_perm=9).collect()
    assert r["n_a"] == 0 and r["t_obs"] is None and r["p_value"] is None
    with pytest.raises(ValueError):
        randomization_test(df, "u", "c", "v", "A", n_perm=0)


def test_cronbach_alpha_hand_values(spark):
    # perfectly correlated items -> alpha = 1; absent-cell example:
    # var_i = [0, 1/4], vt = 1/4 -> alpha = 2*(1 - (1/4)/(1/4))... the
    # item variances sum to vt exactly -> alpha = 0
    from mr_dice_spark.operators.evaluation import cronbach_alpha

    perf = spark.createDataFrame(
        [(u, i, float(u)) for u in (1, 2, 3) for i in ("a", "b")],
        "u long, i string, v double",
    )
    [r] = cronbach_alpha(perf, "u", "i", "v").collect()
    assert (r["k_items"], r["n_units"]) == (2, 3)
    assert r["alpha"] == pytest.approx(1.0, abs=1e-6)
    sparse = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0), (2, "b", 1.0)],
        "u long, i string, v double",
    )
    [r] = cronbach_alpha(sparse, "u", "i", "v").collect()
    assert r["alpha"] == pytest.approx(0.0, abs=1e-6)


def test_cronbach_alpha_null_contracts(spark):
    # one item -> k < 2 -> NULL; anti-correlated items with constant
    # totals -> vt = 0 -> NULL
    from mr_dice_spark.operators.evaluation import cronbach_alpha

    one = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "u long, i string, v double"
    )
    [r] = cronbach_alpha(one, "u", "i", "v").collect()
    assert r["alpha"] is None
    anti = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 3.0), (2, "a", 2.0), (2, "b", 2.0),
         (3, "a", 3.0), (3, "b", 1.0)],
        "u long, i string, v double",
    )
    [r] = cronbach_alpha(anti, "u", "i", "v").collect()
    assert r["total_var"] == pytest.approx(0.0, abs=1e-6) and r["alpha"] is None


def test_hodges_lehmann_hand_values(spark):
    # A=[10,20], B=[1,2]: pairwise diffs {8,9,18,19} -> median 13.5
    from mr_dice_spark.operators.evaluation import hodges_lehmann_shift

    rows = [("k", True, 10.0), ("k", True, 20.0),
            ("k", False, 1.0), ("k", False, 2.0)]
    df = spark.createDataFrame(rows, "k string, a boolean, v double")
    [r] = hodges_lehmann_shift(df, "k", "a", "v", True).collect()
    assert (r["n_a"], r["n_b"], r["n_pairs"]) == (2, 2, 4)
    assert r["hl_shift"] == pytest.approx(13.5, abs=1e-6)


def test_hodges_lehmann_empty_class_null(spark):
    from mr_dice_spark.operators.evaluation import hodges_lehmann_shift

    rows = [("k", True, 1.0), ("k", True, 2.0)]
    df = spark.createDataFrame(rows, "k string, a boolean, v double")
    [r] = hodges_lehmann_shift(df, "k", "a", "v", True).collect()
    assert r["n_pairs"] == 0 and r["hl_shift"] is None


def test_covariate_balance_smd_hand_values(spark):
    # x: A=[2,4] vs B=[0,2] -> smd = 2/sqrt((1+1)/2) = 2 (imbalanced);
    # y identical across arms -> smd 0 (balanced); c constant -> NULL
    # smd, balanced false (fail-closed)
    from mr_dice_spark.operators.evaluation import covariate_balance_smd

    rows = [(1, "A", 2.0, 5.0, 9.0), (2, "A", 4.0, 7.0, 9.0),
            (3, "B", 0.0, 5.0, 9.0), (4, "B", 2.0, 7.0, 9.0)]
    df = spark.createDataFrame(rows, "u long, g string, x double, y double, c double")
    got = {r["covariate"]: r
           for r in covariate_balance_smd(df, "u", "g", ["x", "y", "c"], "A").collect()}
    assert got["x"]["smd"] == pytest.approx(2.0, abs=1e-6)
    assert not got["x"]["balanced"]
    assert got["y"]["smd"] == pytest.approx(0.0, abs=1e-6)
    assert got["y"]["balanced"]
    assert got["c"]["smd"] is None and not got["c"]["balanced"]
    with pytest.raises(ValueError):
        covariate_balance_smd(df, "u", "g", [], "A")


def test_rmst_hand_values(spark):
    # 3 subjects, all events at t=1,2,4, no censoring: S = 2/3 on
    # [1,2), 1/3 on [2,4), 0 after. RMST(tau=3) = 1*1 + (2/3)*1
    # + (1/3)*1 = 2; RMST(tau=10) = 1 + 2/3 + (1/3)*2 = 7/3
    from mr_dice_spark.operators.evaluation import restricted_mean_survival

    rows = [("g", 1.0, True), ("g", 2.0, True), ("g", 4.0, True)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = restricted_mean_survival(df, "g", "t", "e", tau=3.0).collect()
    assert r["rmst"] == pytest.approx(2.0, abs=1e-4)
    [r] = restricted_mean_survival(df, "g", "t", "e", tau=10.0).collect()
    assert r["rmst"] == pytest.approx(7 / 3, abs=1e-4)


def test_rmst_censoring_and_tau_clamp(spark):
    # event at 1 (of 2 at risk) + censor at 5: S = 1/2 from t=1 on,
    # never reaches 0 -> RMST(4) = 1 + 0.5*3 = 2.5 (the tail rectangle
    # runs to tau, not to the censoring time); an all-pre-tau=0.5 curve
    # with tau below the first event returns tau exactly
    from mr_dice_spark.operators.evaluation import restricted_mean_survival

    rows = [("g", 1.0, True), ("g", 5.0, False)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = restricted_mean_survival(df, "g", "t", "e", tau=4.0).collect()
    assert r["rmst"] == pytest.approx(2.5, abs=1e-4)
    [r] = restricted_mean_survival(df, "g", "t", "e", tau=0.5).collect()
    assert r["rmst"] == pytest.approx(0.5, abs=1e-4)
    with pytest.raises(ValueError):
        restricted_mean_survival(df, "g", "t", "e", tau=0.0)


def test_brier_decomposition_excludes_null_labels(spark):
    # ADVICE r7: the 0/1 coercion ran BEFORE the null filter, so a NULL
    # label became 0.0 (counted as a negative) and the filter was dead
    # code. The NULL-label row must be excluded entirely: n=2, and the
    # base rate is computed over the two labeled rows only.
    from mr_dice_spark.operators.evaluation import brier_decomposition

    rows = [(0.8, True), (0.8, False), (0.8, None)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    [r] = brier_decomposition(df, "s", "y", n_bins=10).collect()
    assert r["n"] == 2
    assert r["base_rate"] == pytest.approx(0.5, abs=1e-6)


def test_decile_lift_excludes_null_label_group_tiebreak(spark):
    # ADVICE r7: NULL labels coerced to negatives and NULL group/tiebreak
    # rows leaked a NULL partition — all must be excluded before the
    # NTILE window, matching average_precision_by_group's handling.
    from mr_dice_spark.operators.evaluation import decile_lift_by_group

    rows = [
        ("g", 5.0, True, 1),
        ("g", 4.0, False, 2),
        ("g", 3.0, None, 3),     # NULL label: excluded, not a negative
        (None, 2.0, True, 4),    # NULL group: no NULL partition in output
        ("g", 1.0, True, None),  # NULL tiebreak: excluded
    ]
    df = spark.createDataFrame(rows, "g string, s double, y boolean, id long")
    out = decile_lift_by_group(df, "g", "s", "y", "id", n_tiles=2).collect()
    assert {r["g"] for r in out} == {"g"}
    assert sum(r["n"] for r in out) == 2
    by_tile = {r["tile"]: r for r in out}
    assert by_tile[1]["n_pos"] == 1 and by_tile[2]["n_pos"] == 0


def test_jackknife_ratio_ci_excludes_null_den_and_unit(spark):
    # ADVICE r7: a NULL-denominator row kept its numerator in the bucket
    # sum while SUM dropped the NULL from the denominator (biasing theta),
    # and a NULL unit hashed into a NULL pseudo-bucket. Both rows must be
    # excluded: the result equals the clean-subset computation exactly.
    from mr_dice_spark.operators.evaluation import jackknife_ratio_ci

    clean = [
        ("g", f"u{i}", float(10 + (i * 7) % 23), float(1 + i % 3))
        for i in range(30)
    ]
    dirty = clean + [("g", "ux", 999.0, None), ("g", None, 999.0, 1.0)]
    schema = "grp string, unit string, num double, den double"
    [want] = jackknife_ratio_ci(
        spark.createDataFrame(clean, schema), "grp", "unit", "num", "den",
        n_buckets=5, seed="s",
    ).collect()
    [got] = jackknife_ratio_ci(
        spark.createDataFrame(dirty, schema), "grp", "unit", "num", "den",
        n_buckets=5, seed="s",
    ).collect()
    assert got == want
    assert got["n_rows"] == 30


def test_logrank_all_censored_counts_still_reported(spark):
    # ADVICE r7: with no event anywhere the per-time terms frame is
    # empty and the old F.max over it returned NULL counts; the
    # docstring promises only z/chi2 go NULL while counts stay reported.
    from mr_dice_spark.operators.evaluation import logrank_test

    rows = [("A", 1.0, False), ("A", 2.0, False), ("B", 3.0, False)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = logrank_test(df, "g", "t", "e", "A").collect()
    assert r["n_a"] == 2 and r["n_b"] == 1
    assert r["observed_a"] == 0
    assert r["expected_a"] == pytest.approx(0.0, abs=1e-6)
    assert r["variance"] == pytest.approx(0.0, abs=1e-6)
    assert r["z"] is None and r["chi2"] is None


def test_effect_sizes_hand_moments(spark):
    # sample1 = [2,4,6] (m=4, var_samp=4), sample2 = [1,2,3] (m=2, var=1):
    # sp = sqrt((2*4 + 2*1)/4) = sqrt(2.5), d = 2/sp,
    # J = 1 - 3/(4*6 - 9) = 0.8, g = 0.8*d
    from mr_dice_spark.operators.evaluation import effect_sizes

    rows = [("g", True, 2.0), ("g", True, 4.0), ("g", True, 6.0),
            ("g", False, 1.0), ("g", False, 2.0), ("g", False, 3.0),
            ("g", None, 99.0), (None, True, 99.0), ("g", True, None)]
    df = spark.createDataFrame(rows, "g string, s boolean, v double")
    [r] = effect_sizes(df, "g", "s", "v").collect()
    sp = 2.5 ** 0.5
    assert r["n1"] == 3 and r["n2"] == 3
    assert r["mean_diff"] == pytest.approx(2.0, abs=1e-6)
    assert r["pooled_sd"] == pytest.approx(sp, abs=1e-6)
    assert r["cohens_d"] == pytest.approx(2.0 / sp, abs=1e-6)
    assert r["hedges_g"] == pytest.approx(0.8 * 2.0 / sp, abs=1e-6)


def test_effect_sizes_degenerate_null(spark):
    # one-row sample and zero pooled variance both fail closed
    from mr_dice_spark.operators.evaluation import effect_sizes

    df = spark.createDataFrame(
        [("g", True, 1.0), ("g", False, 2.0), ("g", False, 3.0)],
        "g string, s boolean, v double",
    )
    [r] = effect_sizes(df, "g", "s", "v").collect()
    assert r["cohens_d"] is None and r["hedges_g"] is None
    df2 = spark.createDataFrame(
        [("g", True, 5.0), ("g", True, 5.0), ("g", False, 5.0), ("g", False, 5.0)],
        "g string, s boolean, v double",
    )
    [r2] = effect_sizes(df2, "g", "s", "v").collect()
    assert r2["cohens_d"] is None


def test_benjamini_hochberg_hand_qvalues_and_ties(spark):
    from mr_dice_spark.operators.evaluation import benjamini_hochberg

    # untied: p = [0.005, 0.01, 0.03, 0.04], m = 4:
    # qraw = [0.02, 0.02, 0.04, 0.04] -> suffix-min = same (monotone)
    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.005)],
        "t string, p double",
    )
    got = {r["t"]: r for r in benjamini_hochberg(df, "t", "p", alpha=0.05).collect()}
    assert got["d"]["rank"] == 1 and got["d"]["q_bh"] == pytest.approx(0.02, abs=1e-6)
    assert got["a"]["q_bh"] == pytest.approx(0.02, abs=1e-6)
    assert got["c"]["q_bh"] == pytest.approx(0.04, abs=1e-6)
    assert got["b"]["q_bh"] == pytest.approx(0.04, abs=1e-6)
    assert all(r["reject"] for r in got.values())
    assert all(r["m_tests"] == 4 for r in got.values())

    # ties share the largest rank (and therefore one q): p = [.02,.02,.5]
    df2 = spark.createDataFrame(
        [("x", 0.02), ("y", 0.02), ("z", 0.5)], "t string, p double"
    )
    got2 = {r["t"]: r for r in benjamini_hochberg(df2, "t", "p", alpha=0.05).collect()}
    assert got2["x"]["rank"] == 2 and got2["y"]["rank"] == 2
    assert got2["x"]["q_bh"] == pytest.approx(0.03, abs=1e-6)
    assert got2["y"]["q_bh"] == pytest.approx(0.03, abs=1e-6)
    assert got2["z"]["q_bh"] == pytest.approx(0.5, abs=1e-6)
    assert got2["x"]["reject"] and got2["y"]["reject"] and not got2["z"]["reject"]

    # out-of-range / NULL p rows are excluded from m
    df3 = spark.createDataFrame(
        [("a", 0.01), ("bad", 1.5), ("nan", None)], "t string, p double"
    )
    out3 = benjamini_hochberg(df3, "t", "p").collect()
    assert len(out3) == 1 and out3[0]["m_tests"] == 1

    import pytest as _pt
    with _pt.raises(ValueError, match="alpha"):
        benjamini_hochberg(df, "t", "p", alpha=1.5)


def test_cochran_q_hand_value(spark):
    # Cj = (3,2,1), T = 6, sum Ri^2 = 14, sum Cj^2 = 14, k = 3:
    # Q = 2*(3*14 - 36)/(3*6 - 14) = 3.0
    from mr_dice_spark.operators.evaluation import cochran_q

    rows = []
    outcomes = {"u1": (1, 1, 0), "u2": (1, 0, 0), "u3": (1, 1, 1), "u4": (0, 0, 0)}
    for u, (a, b, c) in outcomes.items():
        rows += [(u, "t1", a), (u, "t2", b), (u, "t3", c)]
    df = spark.createDataFrame(rows, "u string, trt string, y int")
    [r] = cochran_q(df, "u", "trt", "y").collect()
    assert r["n_units"] == 4 and r["k_treatments"] == 3
    assert r["total_successes"] == 6
    assert r["q_stat"] == pytest.approx(3.0, abs=1e-6)
    assert r["df"] == 2


def test_cochran_q_no_discordance_null(spark):
    # every unit constant across treatments -> denominator 0 -> NULL Q
    from mr_dice_spark.operators.evaluation import cochran_q

    rows = [("u1", "a", 1), ("u1", "b", 1), ("u2", "a", 0), ("u2", "b", 0)]
    df = spark.createDataFrame(rows, "u string, trt string, y int")
    [r] = cochran_q(df, "u", "trt", "y").collect()
    assert r["q_stat"] is None and r["df"] == 1


def test_fleiss_kappa_hand_value_and_ragged_guard(spark):
    # u1 = (a,a,a), u2 = (a,b,b): Po = 2/3, Pe = 5/9, kappa = 0.25
    from mr_dice_spark.operators.evaluation import fleiss_kappa

    rows = [("u1", "a")] * 3 + [("u2", "a"), ("u2", "b"), ("u2", "b")]
    df = spark.createDataFrame(rows, "u string, lab string")
    [r] = fleiss_kappa(df, "u", "lab").collect()
    assert r["n_units"] == 2 and r["n_raters"] == 3
    assert r["p_o"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert r["p_e"] == pytest.approx(5.0 / 9.0, abs=1e-6)
    assert r["kappa"] == pytest.approx(0.25, abs=1e-6)

    ragged = spark.createDataFrame(
        rows + [("u3", "a")], "u string, lab string"
    )
    with pytest.raises(ValueError, match="ragged"):
        fleiss_kappa(ragged, "u", "lab")
    with pytest.raises(ValueError, match=">= 2"):
        fleiss_kappa(
            spark.createDataFrame([("u1", "a"), ("u2", "b")], "u string, lab string"),
            "u", "lab",
        )


def test_fleiss_kappa_empty_input_fails_closed(spark):
    # no rated units -> 1-row NULL frame, not an exception (ADVICE r8)
    from mr_dice_spark.operators.evaluation import fleiss_kappa

    empty = spark.createDataFrame(
        [(None, "a"), ("u1", None)], "u string, lab string"
    )
    [r] = fleiss_kappa(empty, "u", "lab").collect()
    assert r["n_units"] == 0
    assert r["n_raters"] is None and r["kappa"] is None
    assert r["p_o"] is None and r["p_e"] is None


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


def test_nelson_aalen_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import nelson_aalen
    import pytest as _pt

    # one group: events at t=1 (n=4), t=3 (n=2); censor at t=2
    rows = [("g", 1.0, True), ("g", 1.0, True), ("g", 2.0, False),
            ("g", 3.0, True)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    out = {r["t"]: r for r in nelson_aalen(df, "g", "t", "e").collect()}
    assert set(out) == {1.0, 3.0}  # censor-only time emits no row
    r1, r3 = out[1.0], out[3.0]
    assert (r1["n_risk"], r1["n_events"], r1["n_censored"]) == (4, 2, 0)
    assert r1["cum_hazard"] == _pt.approx(0.5, abs=1e-6)
    # var at t=1: (4-2)*2/64 = 0.0625
    assert r1["var_hazard"] == _pt.approx(0.0625, abs=1e-6)
    # t=3: n=1, d=1 -> H = 0.5 + 1.0 = 1.5; var += 0
    assert (r3["n_risk"], r3["n_events"]) == (1, 1)
    assert r3["cum_hazard"] == _pt.approx(1.5, abs=1e-6)
    assert r3["var_hazard"] == _pt.approx(0.0625, abs=1e-6)
    assert r3["survival_fh"] == _pt.approx(2.718281828 ** -1.5, abs=1e-6)


def test_nelson_aalen_null_rows_excluded(spark):
    from mr_dice_spark.operators.evaluation import nelson_aalen

    rows = [("g", 1.0, True), (None, 1.0, True), ("g", None, True),
            ("g", 2.0, None)]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    [r] = nelson_aalen(df, "g", "t", "e").collect()
    assert (r["t"], r["n_risk"], r["n_events"]) == (1.0, 1, 1)


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


def test_did_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import difference_in_differences
    import pytest as _pt

    # T: pre mean 10, post mean 14 (+4); C: pre mean 20, post 21 (+1)
    rows = [
        ("t", "pre", 9.0), ("t", "pre", 11.0),
        ("t", "post", 13.0), ("t", "post", 15.0),
        ("c", "pre", 19.0), ("c", "pre", 21.0),
        ("c", "post", 20.0), ("c", "post", 22.0),
        ("x", "pre", 99.0),
    ]
    # arm semantics: arm == arm_treat is treated, EVERY other non-NULL
    # arm is control — so the ("x", ...) row lands in control-pre.
    df = spark.createDataFrame(rows, "arm string, p string, v double")
    [r] = difference_in_differences(
        df, "arm", "p", "v", arm_treat="t", period_pre="pre", period_post="post"
    ).collect()
    assert (r["n_t_pre"], r["n_t_post"]) == (2, 2)
    assert r["n_c_pre"] == 3  # 19, 21, 99
    assert r["mean_t_post"] == _pt.approx(14.0, abs=1e-6)
    # c_pre mean = (19+21+99)/3 = 46.333333
    assert r["mean_c_pre"] == _pt.approx(46.333333, abs=1e-6)
    assert r["did"] == _pt.approx((14.0 - 10.0) - (21.0 - 46.333333), abs=1e-5)
    assert r["se"] is not None and r["z"] is not None


def test_did_empty_cell_and_small_cell_guards(spark):
    from mr_dice_spark.operators.evaluation import difference_in_differences

    # no control-post rows -> did NULL; singleton cells -> se/z NULL
    rows = [("t", "pre", 1.0), ("t", "post", 2.0), ("c", "pre", 3.0)]
    df = spark.createDataFrame(rows, "arm string, p string, v double")
    [r] = difference_in_differences(
        df, "arm", "p", "v", arm_treat="t", period_pre="pre", period_post="post"
    ).collect()
    assert r["did"] is None and r["se"] is None and r["z"] is None
    # all four cells present with n>=1 but one has n=1 -> did real, se NULL
    rows2 = rows + [("c", "post", 4.0), ("t", "pre", 5.0), ("t", "post", 6.0),
                    ("c", "pre", 7.0)]
    df2 = spark.createDataFrame(rows2, "arm string, p string, v double")
    [r2] = difference_in_differences(
        df2, "arm", "p", "v", arm_treat="t", period_pre="pre", period_post="post"
    ).collect()
    assert r2["did"] is not None
    assert r2["se"] is None and r2["z"] is None


# ---------------------------------------------------------------------------
# Mantel-Haenszel
# ---------------------------------------------------------------------------


def test_mantel_haenszel_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import mantel_haenszel
    import pytest as _pt

    # stratum s1: a=3 b=1 c=1 d=3 (n=8); stratum s2: a=2 b=2 c=2 d=2 (n=8)
    rows = (
        [("s1", True, True)] * 3 + [("s1", True, False)] * 1
        + [("s1", False, True)] * 1 + [("s1", False, False)] * 3
        + [("s2", True, True)] * 2 + [("s2", True, False)] * 2
        + [("s2", False, True)] * 2 + [("s2", False, False)] * 2
    )
    df = spark.createDataFrame(rows, "s string, x boolean, y boolean")
    [r] = mantel_haenszel(df, "s", "x", "y").collect()
    assert (r["n_strata"], r["n_total"], r["sum_a"]) == (2, 16, 5)
    # OR_MH = (3*3/8 + 2*2/8) / (1*1/8 + 2*2/8) = (9/8 + 4/8)/(1/8 + 4/8) = 13/5
    assert r["or_mh"] == _pt.approx(2.6, abs=1e-6)
    # E = 4*4/8 + 4*4/8 = 4; V = 4*4*4*4/(64*7)*2 = 2*256/448 = 8/7
    assert r["expected_a"] == _pt.approx(4.0, abs=1e-6)
    assert r["variance"] == _pt.approx(8.0 / 7.0, abs=1e-6)
    assert r["chi2"] == _pt.approx(1.0 / (8.0 / 7.0), abs=1e-4)


def test_mantel_haenszel_degenerate_fail_closed(spark):
    from mr_dice_spark.operators.evaluation import mantel_haenszel

    # every exposed row converts, every unexposed misses: den = 0 -> NULL OR
    rows = [("s", True, True), ("s", True, True), ("s", False, False)]
    df = spark.createDataFrame(rows, "s string, x boolean, y boolean")
    [r] = mantel_haenszel(df, "s", "x", "y").collect()
    assert r["or_mh"] is None
    # single-row stratum: V = 0 contribution -> chi2 NULL when total V = 0
    [r2] = mantel_haenszel(
        spark.createDataFrame([("s", True, True)], "s string, x boolean, y boolean"),
        "s", "x", "y",
    ).collect()
    assert r2["chi2"] is None


def test_decile_lift_unparseable_label_fails_loudly(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import decile_lift_by_group

    # ANSI mode (Spark 4 default): a non-boolean-parseable label CANNOT
    # silently coerce — the cast throws, in the filter and the coercion
    # alike, so garbage labels fail loudly instead of biasing the gains
    # table. (The filter is on the CAST value for convention parity with
    # average_precision_by_group; with ANSI on the two are equivalent.)
    rows = [("g", 0.9, "true", 1), ("g", 0.8, "maybe", 2),
            ("g", 0.7, "false", 3), ("g", 0.6, "true", 4)]
    df = spark.createDataFrame(rows, "g string, s double, y string, id long")
    with _pt.raises(Exception, match="BOOLEAN|CAST_INVALID_INPUT"):
        decile_lift_by_group(df, "g", "s", "y", "id", n_tiles=3).collect()
    # string labels that DO parse flow through; NULLs are excluded
    ok = [("g", 0.9, "true", 1), ("g", 0.8, None, 2),
          ("g", 0.7, "false", 3), ("g", 0.6, "true", 4)]
    out = decile_lift_by_group(
        spark.createDataFrame(ok, "g string, s double, y string, id long"),
        "g", "s", "y", "id", n_tiles=3,
    ).collect()
    assert sum(r["n"] for r in out) == 3
    assert sum(r["n_pos"] for r in out) == 2


def test_cochran_q_parseable_string_outcomes_and_null_excluded(spark):
    from mr_dice_spark.operators.evaluation import cochran_q

    rows = [(1, "a", "true"), (1, "b", "false"),
            (2, "a", None), (2, "b", "true")]
    df = spark.createDataFrame(rows, "u long, j string, y string")
    [r] = cochran_q(df, "u", "j", "y").collect()
    # unit 2 has only treatment b after the NULL exclusion; unit 1 both
    assert r["n_units"] == 2 and r["total_successes"] == 2


# ---------------------------------------------------------------------------
# invariant tests for the round-8 statistical additions
# ---------------------------------------------------------------------------


def test_nelson_aalen_monotonicity_and_km_bound(spark):
    import math
    import random

    from mr_dice_spark.operators.evaluation import kaplan_meier, nelson_aalen

    rng = random.Random(43)
    rows = [
        (f"g{i % 3}", float(rng.randint(1, 12)), rng.random() < 0.7)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, t double, e boolean")
    na = nelson_aalen(df, "g", "t", "e").orderBy("g", "t").collect()
    last = {}
    for r in na:
        g = r["g"]
        if g in last:
            prev = last[g]
            assert r["cum_hazard"] >= prev["cum_hazard"] - 1e-9
            assert r["survival_fh"] <= prev["survival_fh"] + 1e-9
            assert r["n_risk"] <= prev["n_risk"]
        assert r["var_hazard"] >= -1e-9
        last[g] = r
    # H_NA <= -ln(S_KM) pointwise (since d/n <= -ln(1 - d/n)), where KM
    # survival is strictly positive
    km = {
        (r["g"], r["t"]): r["survival"]
        for r in kaplan_meier(df, "g", "t", "e").collect()
    }
    for r in na:
        s = km[(r["g"], r["t"])]
        if s and s > 0:
            assert r["cum_hazard"] <= -math.log(s) + 1e-6


def test_did_shift_invariance(spark):
    import random

    from mr_dice_spark.operators.evaluation import difference_in_differences

    rng = random.Random(7)
    rows = [
        (rng.random() < 0.5, rng.random() < 0.5, rng.uniform(0, 100))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "arm boolean, p boolean, v double")
    shifted = df.selectExpr("arm", "p", "v + 1000.0 AS v")
    base = difference_in_differences(
        df, "arm", "p", "v", arm_treat=True, period_pre=False, period_post=True
    ).collect()[0]
    shift = difference_in_differences(
        shifted, "arm", "p", "v", arm_treat=True, period_pre=False, period_post=True
    ).collect()[0]
    # adding a constant to every value moves all four means but cancels
    # in DiD; variances are shift-free so SE/z follow (6dp pins allow
    # one-grid-step slack)
    assert abs(base["did"] - shift["did"]) <= 2e-6
    assert abs(base["se"] - shift["se"]) <= 2e-6
    assert abs(base["z"] - shift["z"]) <= 1e-3


def test_mantel_haenszel_exposure_swap_inverts_or(spark):
    import random

    from mr_dice_spark.operators.evaluation import mantel_haenszel

    rng = random.Random(11)
    rows = [
        (f"s{i % 4}", rng.random() < 0.5, rng.random() < 0.4)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "s string, x boolean, y boolean")
    [fwd] = mantel_haenszel(df, "s", "x", "y").collect()
    swapped = df.selectExpr("s", "NOT x AS x", "y")
    [rev] = mantel_haenszel(swapped, "s", "x", "y").collect()
    # relabeling exposure inverts the common OR and preserves the CMH
    # statistic (the deviation flips sign, chi2 squares it away)
    assert abs(fwd["or_mh"] * rev["or_mh"] - 1.0) < 1e-3
    assert abs(fwd["chi2"] - rev["chi2"]) < 1e-2
    assert fwd["n_total"] == rev["n_total"]


def test_mantel_haenszel_single_stratum_is_plain_or(spark):
    from mr_dice_spark.operators.evaluation import mantel_haenszel

    rows = (
        [("s", True, True)] * 6 + [("s", True, False)] * 2
        + [("s", False, True)] * 3 + [("s", False, False)] * 9
    )
    df = spark.createDataFrame(rows, "s string, x boolean, y boolean")
    [r] = mantel_haenszel(df, "s", "x", "y").collect()
    # one stratum: OR_MH == (a*d)/(b*c) = 6*9/(2*3) = 9
    assert abs(r["or_mh"] - 9.0) < 1e-6


def test_kendalls_w_perfect_and_reversed(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import kendalls_w

    ident = [(j, i, float(i)) for j in ("a", "b", "c") for i in range(1, 5)]
    [r] = kendalls_w(
        spark.createDataFrame(ident, "j string, i long, s double"), "j", "i", "s"
    ).collect()
    assert (r["m_raters"], r["n_items"]) == (3, 4)
    assert r["w"] == _pt.approx(1.0, abs=1e-6)
    # two raters in exact opposition: rank sums all equal -> S = 0, W = 0
    opp = [("a", i, float(i)) for i in range(1, 5)]
    opp += [("b", i, float(-i)) for i in range(1, 5)]
    [r2] = kendalls_w(
        spark.createDataFrame(opp, "j string, i long, s double"), "j", "i", "s"
    ).collect()
    assert r2["w"] == 0.0


def test_kendalls_w_ties_and_guards(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import kendalls_w

    # all scores tied for every rater: correction zeroes the denominator
    tied = [(j, i, 1.0) for j in ("a", "b") for i in range(3)]
    [r] = kendalls_w(
        spark.createDataFrame(tied, "j string, i long, s double"), "j", "i", "s"
    ).collect()
    assert r["w"] is None and r["tie_correction"] == _pt.approx(48.0)
    # ragged panel fail-fasts
    ragged = [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 1.0)]
    with _pt.raises(ValueError, match="ragged panel"):
        kendalls_w(
            spark.createDataFrame(ragged, "j string, i long, s double"),
            "j", "i", "s",
        )
    # empty input -> 1-row NULL frame, not an exception (ADVICE r8)
    empty = spark.createDataFrame(
        [("a", None, 1.0), (None, 1, 1.0)], "j string, i long, s double"
    )
    [r0] = kendalls_w(empty, "j", "i", "s").collect()
    assert r0["m_raters"] == 0 and r0["n_items"] == 0
    assert r0["s_stat"] is None and r0["w"] is None


def test_uplift_curve_hand_computed(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import uplift_curve_by_group

    # 8 units, 2 tiles of 4. Tile 1 (top scores 8..5): treated {8,7}
    # both convert, control {6,5} none -> uplift = 2 - 0*(2/2) = 2.
    # Tile 2 (scores 4..1): treated {4,3} none, control {2,1} one
    # converts -> cumulative: yt=2, yc=1, nt=4, nc=4 -> 2 - 1*1 = 1.
    rows = [
        ("g", 8.0, True, True, 1), ("g", 7.0, True, True, 2),
        ("g", 6.0, False, False, 3), ("g", 5.0, False, False, 4),
        ("g", 4.0, True, False, 5), ("g", 3.0, True, False, 6),
        ("g", 2.0, False, True, 7), ("g", 1.0, False, False, 8),
    ]
    df = spark.createDataFrame(rows, "g string, s double, t boolean, y boolean, id long")
    out = {r["tile"]: r for r in uplift_curve_by_group(
        df, "g", "s", "t", "y", "id", n_tiles=2
    ).collect()}
    assert out[1]["cum_uplift"] == _pt.approx(2.0, abs=1e-9)
    assert out[2]["cum_uplift"] == _pt.approx(1.0, abs=1e-9)
    # random baseline: total uplift 1.0 scaled by depth share 0.5 / 1.0
    assert out[1]["cum_random"] == _pt.approx(0.5, abs=1e-9)
    assert out[2]["cum_random"] == _pt.approx(1.0, abs=1e-9)
    assert (out[1]["n_treat"], out[1]["n_ctrl"]) == (2, 2)


def test_uplift_curve_no_control_fail_closed(spark):
    from mr_dice_spark.operators.evaluation import uplift_curve_by_group

    rows = [("g", float(i), True, i % 2 == 0, i) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "g string, s double, t boolean, y boolean, id long")
    out = uplift_curve_by_group(df, "g", "s", "t", "y", "id", n_tiles=3).collect()
    assert all(r["cum_uplift"] is None and r["cum_random"] is None for r in out)


# ---------------------------------------------------------------------------
# Round-9 additions: Friedman / ICC / Lin's CCC / Cramér's V
# ---------------------------------------------------------------------------


def test_friedman_hand_value_and_w_identity(spark):
    from mr_dice_spark.operators.evaluation import friedman_test, kendalls_w

    rows = []
    panel = {1: (1, 2, 3), 2: (2, 1, 3), 3: (1, 3, 2), 4: (1, 2, 3)}
    for b, vals in panel.items():
        for j, v in enumerate(vals):
            rows.append((b, f"t{j}", float(v)))
    df = spark.createDataFrame(rows, "b long, t string, v double")
    [r] = friedman_test(df, "b", "t", "v").collect()
    assert (r["n_blocks"], r["k_treatments"], r["df"]) == (4, 3, 2)
    assert r["s_stat"] == pytest.approx(18.0)
    assert r["tie_correction"] == pytest.approx(0.0)
    assert r["chi2_r"] == pytest.approx(4.5, abs=1e-6)
    # tie-free identity: chi2_r = n (k-1) W with blocks<->raters swapped
    [w] = kendalls_w(df, "b", "t", "v").collect()
    assert r["chi2_r"] == pytest.approx(
        4 * (3 - 1) * w["w"], abs=1e-5
    )


def test_friedman_guards(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import friedman_test

    ragged = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 1.0)],
        "b long, t string, v double",
    )
    with _pt.raises(ValueError, match="ragged panel"):
        friedman_test(ragged, "b", "t", "v")
    empty = spark.createDataFrame(
        [(None, "a", 1.0)], "b string, t string, v double"
    )
    [r0] = friedman_test(empty, "b", "t", "v").collect()
    assert r0["n_blocks"] == 0 and r0["chi2_r"] is None
    # all blocks fully tied: correction zeroes -> NULL chi2
    tied = spark.createDataFrame(
        [(b, t, 1.0) for b in (1, 2) for t in ("a", "b", "c")],
        "b long, t string, v double",
    )
    [rt] = friedman_test(tied, "b", "t", "v").collect()
    assert rt["chi2_r"] is None and rt["tie_correction"] == pytest.approx(48.0)


def test_icc_two_way_shrout_fleiss(spark):
    # the classic Shrout & Fleiss (1979) 6 items x 4 raters table:
    # published ICC(2,1) = 0.29, ICC(3,1) = 0.71
    from mr_dice_spark.operators.evaluation import icc_two_way

    tab = [
        [9, 2, 5, 8],
        [6, 1, 3, 2],
        [8, 4, 6, 8],
        [7, 1, 2, 6],
        [10, 5, 6, 9],
        [6, 2, 4, 7],
    ]
    rows = [
        (f"r{j}", i, float(v))
        for i, scores in enumerate(tab)
        for j, v in enumerate(scores)
    ]
    df = spark.createDataFrame(rows, "j string, i long, s double")
    [r] = icc_two_way(df, "j", "i", "s").collect()
    assert (r["n_items"], r["k_raters"]) == (6, 4)
    assert r["ms_rows"] == pytest.approx(11.241667, abs=1e-5)
    assert r["ms_cols"] == pytest.approx(32.486111, abs=1e-5)
    assert r["ms_err"] == pytest.approx(1.019444, abs=1e-5)
    assert r["icc2_1"] == pytest.approx(0.289764, abs=1e-5)
    assert r["icc3_1"] == pytest.approx(0.714841, abs=1e-5)


def test_icc_two_way_guards(spark):
    import pytest as _pt

    from mr_dice_spark.operators.evaluation import icc_two_way

    ragged = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 1.0)],
        "j string, i long, s double",
    )
    with _pt.raises(ValueError, match="ragged panel"):
        icc_two_way(ragged, "j", "i", "s")
    empty = spark.createDataFrame(
        [(None, 1, 1.0)], "j string, i long, s double"
    )
    [r0] = icc_two_way(empty, "j", "i", "s").collect()
    assert r0["n_items"] == 0 and r0["icc2_1"] is None
    # all-identical scores: zero denominators -> NULL ICCs, zero MS
    const = spark.createDataFrame(
        [(j, i, 5.0) for j in ("a", "b") for i in (1, 2)],
        "j string, i long, s double",
    )
    [rc] = icc_two_way(const, "j", "i", "s").collect()
    assert rc["icc2_1"] is None and rc["ms_rows"] == pytest.approx(0.0)


def test_lins_ccc_hand_values(spark):
    from mr_dice_spark.operators.evaluation import lins_ccc

    rows = (
        # k1: y = 2x — perfect correlation, imperfect agreement
        [("k1", 1.0, 2.0), ("k1", 2.0, 4.0), ("k1", 3.0, 6.0)]
        # k2: y = x — perfect agreement
        + [("k2", 1.0, 1.0), ("k2", 2.0, 2.0), ("k2", 3.0, 3.0)]
        # k3: constant offset columns -> CCC 0, r NULL (zero variances)
        + [("k3", 1.0, 4.0), ("k3", 1.0, 4.0)]
    )
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = {r["k"]: r for r in lins_ccc(df, "k", "x", "y").collect()}
    assert out["k1"]["pearson_r"] == pytest.approx(1.0, abs=1e-6)
    assert out["k1"]["ccc"] == pytest.approx(8.0 / 22.0, abs=1e-6)
    assert out["k2"]["ccc"] == pytest.approx(1.0, abs=1e-6)
    assert out["k3"]["pearson_r"] is None
    assert out["k3"]["ccc"] == pytest.approx(0.0, abs=1e-6)


# ---------------------------------------------------------------------------
# Round-10: Mood two-sample scale test
# ---------------------------------------------------------------------------


def _brute_mood_scale(A, B):
    import math
    from collections import defaultdict

    allv = sorted(A + B)
    N = len(allv)
    pos = defaultdict(list)
    for i, v in enumerate(allv, 1):
        pos[v].append(i)
    mid = {v: sum(ix) / len(ix) for v, ix in pos.items()}
    score = lambda v: (mid[v] - (N + 1) / 2) ** 2  # noqa: E731
    T = sum(score(v) for v in A)
    scores = [score(v) for v in allv]
    abar = sum(scores) / N
    ss = sum((s - abar) ** 2 for s in scores)
    na, nb = len(A), len(B)
    V = na * nb / (N * (N - 1)) * ss
    return T, na * abar, (T - na * abar) / math.sqrt(V)


def test_mood_scale_hand_computed_and_fail_closed(spark):
    import random

    from mr_dice_spark.operators.evaluation import mood_scale_test

    rng = random.Random(17)
    base = [round(rng.gauss(10, 1), 1) for _ in range(80)]
    wide = [round(rng.gauss(10, 4), 1) for _ in range(70)]
    same = [round(rng.gauss(10, 1), 1) for _ in range(70)]
    rows = [("scale", True, v) for v in base] + [("scale", False, v) for v in wide]
    rows += [("null", True, v) for v in base] + [("null", False, v) for v in same]
    rows += [("solo", True, 1.0), ("solo", True, 2.0)]       # one class
    rows += [("tied", True, 5.0), ("tied", False, 5.0), ("tied", False, 5.0)]
    df = spark.createDataFrame(rows, "g string, a boolean, v double")
    got = {r["g"]: r for r in mood_scale_test(df, "g", "a", "v", True).collect()}
    for k, (A, B) in (("scale", (base, wide)), ("null", (base, same))):
        T, E, z = _brute_mood_scale(A, B)
        assert got[k]["t_stat"] == pytest.approx(T, abs=1e-6)
        assert got[k]["e_t"] == pytest.approx(E, abs=1e-5)
        assert got[k]["z"] == pytest.approx(z, abs=5e-6)
    assert got["solo"]["z"] is None and got["solo"]["t_stat"] is None
    assert got["tied"]["z"] is None            # all values tied: Var 0
    assert got["tied"]["t_stat"] is not None   # T itself is defined
    # A drawn narrow vs B wide: A's ranks cluster at the centre -> z << 0
    assert got["scale"]["z"] < -3
    assert abs(got["null"]["z"]) < 2.5


def _midranks(vals):
    s = sorted(range(len(vals)), key=lambda i: vals[i])
    r = [0.0] * len(vals)
    i, rank = 0, 1
    while i < len(s):
        j = i
        while j + 1 < len(s) and vals[s[j + 1]] == vals[s[i]]:
            j += 1
        avg = (rank + rank + (j - i)) / 2
        for t in range(i, j + 1):
            r[s[t]] = avg
        rank += j - i + 1
        i = j + 1
    return r


def _brute_page(panel):
    """Exact permutation moments per block, enumerated over all k!
    within-block rank permutations — the ground truth the closed-form
    permutation variance must reproduce."""
    import itertools

    k = len(next(iter(panel.values())))
    n = len(panel)
    L = var = 0.0
    for vals in panel.values():
        r = _midranks(vals)
        L += sum((j + 1) * r[j] for j in range(k))
        ls = [
            sum((j + 1) * p[j] for j in range(k))
            for p in itertools.permutations(r)
        ]
        m = sum(ls) / len(ls)
        var += sum((x - m) ** 2 for x in ls) / len(ls)
    return L, n * k * (k + 1) ** 2 / 4, var


def test_page_trend_matches_permutation_enumeration(spark):
    import math
    import random

    from mr_dice_spark.operators.evaluation import page_trend_test

    rng = random.Random(3)
    k = 4
    cases = {
        "trend": {b: [round(j + rng.uniform(0, 1.5), 1) for j in range(k)]
                  for b in range(8)},
        "null": {b: [round(rng.uniform(0, 5), 1) for _ in range(k)]
                 for b in range(8)},
        "ties": {b: [1.0, 1.0, 2.0, 2.0] for b in range(5)},
    }
    for name, panel in cases.items():
        rows = [(str(b), j, panel[b][j]) for b in panel for j in range(k)]
        df = spark.createDataFrame(rows, "b string, t int, v double")
        got = page_trend_test(df, "b", "t", "v").collect()[0]
        L, E, V = _brute_page(panel)
        assert got["l_stat"] == pytest.approx(L, abs=1e-6), name
        assert got["e_l"] == pytest.approx(E, abs=1e-9), name
        assert got["var_l"] == pytest.approx(V, abs=1e-5), name
        assert got["z"] == pytest.approx((L - E) / math.sqrt(V), abs=5e-6), name
    assert cases  # the planted trend must read strongly positive
    rows = [(str(b), j, cases["trend"][b][j]) for b in cases["trend"] for j in range(k)]
    z = page_trend_test(
        spark.createDataFrame(rows, "b string, t int, v double"), "b", "t", "v"
    ).collect()[0]["z"]
    assert z > 4


def test_page_trend_textbook_variance_and_fail_closed(spark):
    import random

    from mr_dice_spark.operators.evaluation import page_trend_test

    rng = random.Random(8)
    n, k = 8, 4
    panel = {b: rng.sample(range(1000), k) for b in range(n)}
    rows = [(str(b), j, float(panel[b][j])) for b in panel for j in range(k)]
    df = spark.createDataFrame(rows, "b string, t int, v double")
    got = page_trend_test(df, "b", "t", "v").collect()[0]
    # tie-free panels reduce to the textbook n k^2 (k+1)^2 (k-1) / 144
    assert got["var_l"] == pytest.approx(
        n * k**2 * (k + 1) ** 2 * (k - 1) / 144, abs=1e-5
    )
    # fully tied panel: L defined, Var 0 -> NULL z
    rows = [(str(b), j, 7.0) for b in range(4) for j in range(k)]
    tied = page_trend_test(
        spark.createDataFrame(rows, "b string, t int, v double"), "b", "t", "v"
    ).collect()[0]
    assert tied["z"] is None and tied["var_l"] == 0.0
    # ragged panel fails fast; empty input returns the NULL frame
    rows = [("b0", 0, 1.0), ("b0", 1, 2.0), ("b1", 0, 3.0)]
    with pytest.raises(ValueError, match="ragged"):
        page_trend_test(
            spark.createDataFrame(rows, "b string, t int, v double"),
            "b", "t", "v",
        )
    empty = spark.createDataFrame([], "b string, t int, v double")
    row = page_trend_test(empty, "b", "t", "v").collect()[0]
    assert row["n_blocks"] == 0 and row["z"] is None


def _brute_ansari(a, b):
    import math

    pooled = sorted(a + b)
    bign = len(pooled)

    def midrank(v):
        lt = sum(1 for x in pooled if x < v)
        t = sum(1 for x in pooled if x == v)
        return lt + (t + 1) / 2.0

    def score(v):
        r = midrank(v)
        return min(r, bign + 1 - r)

    t_stat = sum(score(v) for v in a)
    allsc = [score(v) for v in pooled]
    abar = sum(allsc) / bign
    ss = sum((s - abar) ** 2 for s in allsc)
    e_t = len(a) * abar
    var = len(a) * len(b) / (bign * (bign - 1.0)) * ss
    return t_stat, e_t, (t_stat - e_t) / math.sqrt(var)


def test_ansari_bradley_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import ansari_bradley

    a = [1.0, 4.0, 4.0, 9.0, 12.0]  # wide
    b = [5.0, 6.0, 6.0, 7.0]  # narrow, same centre-ish
    rows = [("g1", "A", v) for v in a] + [("g1", "B", v) for v in b]
    rows += [("only_a", "A", 1.0), ("only_a", "A", 2.0)]
    rows += [("allsame", "A", 3.0), ("allsame", "B", 3.0)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    got = {r["g"]: r for r in ansari_bradley(df, "g", "c", "v", "A").collect()}
    t, e, z = _brute_ansari(a, b)
    assert got["g1"]["n_a"] == 5 and got["g1"]["n_b"] == 4
    assert got["g1"]["t_stat"] == pytest.approx(t, abs=1e-6)
    assert got["g1"]["e_t"] == pytest.approx(e, abs=1e-6)
    assert got["g1"]["z"] == pytest.approx(z, abs=1e-5)
    # wider sample at the extremes -> small T -> negative z
    assert got["g1"]["z"] < 0
    assert got["only_a"]["t_stat"] is None and got["only_a"]["z"] is None
    assert got["allsame"]["z"] is None  # every value tied: Var 0


def _brute_quade(panel):
    """panel[b][t] -> value; complete n x k."""

    def midranks(vals):
        out = []
        for v in vals:
            lt = sum(1 for x in vals if x < v)
            t = sum(1 for x in vals if x == v)
            out.append(lt + (t + 1) / 2.0)
        return out

    blocks = sorted(panel)
    treats = sorted(panel[blocks[0]])
    n, k = len(blocks), len(treats)
    ranges = [max(panel[b].values()) - min(panel[b].values()) for b in blocks]
    q = midranks(ranges)
    s = {t: 0.0 for t in treats}
    a_stat = 0.0
    for bi, b in enumerate(blocks):
        r = midranks([panel[b][t] for t in treats])
        for ti, t in enumerate(treats):
            sij = q[bi] * (r[ti] - (k + 1) / 2.0)
            s[t] += sij
            a_stat += sij * sij
    b_stat = sum(v * v for v in s.values()) / n
    f = (n - 1) * b_stat / (a_stat - b_stat)
    return a_stat, b_stat, f


def test_quade_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import quade_test

    # Conover-style 5 blocks x 3 treatments with distinct spreads + a tie
    panel = {
        "b1": {"t1": 2.0, "t2": 5.0, "t3": 9.0},
        "b2": {"t1": 1.0, "t2": 1.0, "t3": 2.0},
        "b3": {"t1": 4.0, "t2": 6.0, "t3": 8.0},
        "b4": {"t1": 3.0, "t2": 3.0, "t3": 3.0},
        "b5": {"t1": 7.0, "t2": 9.0, "t3": 16.0},
    }
    rows = [
        (b, t, v) for b, ts in panel.items() for t, v in ts.items()
    ]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    out = quade_test(df, "b", "t", "v").collect()[0]
    a, bb, f = _brute_quade(panel)
    assert out["n_blocks"] == 5 and out["k_treatments"] == 3
    assert (out["df1"], out["df2"]) == (2, 8)
    assert out["a_stat"] == pytest.approx(a, abs=1e-6)
    assert out["b_stat"] == pytest.approx(bb, abs=1e-6)
    assert out["f_stat"] == pytest.approx(f, abs=1e-4)


def test_quade_guards(spark):
    from mr_dice_spark.operators.evaluation import quade_test

    # ragged panel fail-fasts
    rows = [("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b2", "t1", 3.0)]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    with pytest.raises(ValueError, match="ragged"):
        quade_test(df, "b", "t", "v")
    # empty input -> fail-closed NULL frame
    out = quade_test(df.where("v > 99"), "b", "t", "v").collect()[0]
    assert out["n_blocks"] == 0 and out["f_stat"] is None
    # perfect agreement (every block ranks identically, distinct
    # ranges): A - B can hit 0 only with ties... use all-tied blocks:
    # all values equal => ranges 0, ranks tied => S = 0 => A = B = 0
    rows2 = [(f"b{i}", t, 1.0) for i in range(3) for t in ("t1", "t2")]
    df2 = spark.createDataFrame(rows2, "b string, t string, v double")
    out2 = quade_test(df2, "b", "t", "v").collect()[0]
    assert out2["f_stat"] is None


def _linear_rank_z(a, b, score):
    import math

    pooled = sorted(a + b)
    bign = len(pooled)

    def midrank(v):
        lt = sum(1 for x in pooled if x < v)
        t = sum(1 for x in pooled if x == v)
        return lt + (t + 1) / 2.0

    scores_all = [score(midrank(v), bign) for v in pooled]
    t_stat = sum(score(midrank(v), bign) for v in a)
    abar = sum(scores_all) / bign
    ss = sum((s - abar) ** 2 for s in scores_all)
    var = len(a) * len(b) / (bign * (bign - 1.0)) * ss
    if var <= 0:
        return None
    return (t_stat - len(a) * abar) / math.sqrt(var)


def test_lepage_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import lepage_2s

    a = [1.0, 4.0, 4.0, 9.0, 12.0]
    b = [5.0, 6.0, 6.0, 7.0]
    rows = [("g1", "A", v) for v in a] + [("g1", "B", v) for v in b]
    rows += [("only_a", "A", 1.0), ("only_a", "A", 2.0)]
    rows += [("allsame", "A", 3.0), ("allsame", "B", 3.0)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    got = {r["g"]: r for r in lepage_2s(df, "g", "c", "v", "A").collect()}
    z_w = _linear_rank_z(a, b, lambda r, n: r)
    z_ab = _linear_rank_z(a, b, lambda r, n: min(r, n + 1 - r))
    assert got["g1"]["z_w"] == pytest.approx(z_w, abs=1e-5)
    assert got["g1"]["z_ab"] == pytest.approx(z_ab, abs=1e-5)
    assert got["g1"]["lepage_l"] == pytest.approx(z_w**2 + z_ab**2, abs=1e-4)
    assert got["only_a"]["lepage_l"] is None
    # all tied: both variances 0 -> everything fail-closed
    assert got["allsame"]["z_w"] is None and got["allsame"]["lepage_l"] is None


def _brute_brunner_munzel(a, b):
    """scipy.stats.brunnermunzel statistic (x=a, y=b) + p_hat."""
    import math

    pooled = sorted(a + b)
    na, nb, bign = len(a), len(b), len(a) + len(b)

    def midrank(v, sample):
        lt = sum(1 for x in sample if x < v)
        t = sum(1 for x in sample if x == v)
        return lt + (t + 1) / 2.0

    rca = [midrank(v, pooled) for v in a]
    rcb = [midrank(v, pooled) for v in b]
    ra = [midrank(v, a) for v in a]
    rb = [midrank(v, b) for v in b]
    ma, mb = sum(rca) / na, sum(rcb) / nb
    da = [rc - r for rc, r in zip(rca, ra)]
    db = [rc - r for rc, r in zip(rcb, rb)]
    sa = sum((d - sum(da) / na) ** 2 for d in da) / (na - 1)
    sb = sum((d - sum(db) / nb) ** 2 for d in db) / (nb - 1)
    p_hat = (mb - (nb + 1) / 2.0) / na
    denom = bign * math.sqrt(na * sa + nb * sb)
    w = na * nb * (mb - ma) / denom if na * sa + nb * sb > 0 else None
    return p_hat, w


def test_brunner_munzel_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import brunner_munzel

    a = [1.0, 2.0, 2.0, 4.0, 9.0, 3.0]
    b = [3.0, 5.0, 6.0, 6.0, 8.0]
    rows = [("g1", "A", v) for v in a] + [("g1", "B", v) for v in b]
    rows += [("only_a", "A", 1.0), ("only_a", "A", 2.0)]
    # fully separated: placement variance 0 -> p_hat 1, w NULL
    rows += [("sep", "A", 1.0), ("sep", "A", 2.0), ("sep", "B", 8.0),
             ("sep", "B", 9.0)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    got = {r["g"]: r for r in brunner_munzel(df, "g", "c", "v", "A").collect()}
    p, w = _brute_brunner_munzel(a, b)
    assert got["g1"]["n_a"] == 6 and got["g1"]["n_b"] == 5
    assert got["g1"]["p_hat"] == pytest.approx(p, abs=1e-6)
    assert got["g1"]["w"] == pytest.approx(w, abs=1e-5)
    assert got["only_a"]["p_hat"] is None and got["only_a"]["w"] is None
    assert got["sep"]["p_hat"] == pytest.approx(1.0, abs=1e-6)
    assert got["sep"]["w"] is None


def _brute_wilcoxon_sr(x, y):
    import math

    d = [b - a for a, b in zip(x, y) if b - a != 0]
    if not d:
        return None, None, None
    absd = [abs(v) for v in d]

    def midrank(v):
        lt = sum(1 for u in absd if u < v)
        t = sum(1 for u in absd if u == v)
        return lt + (t + 1) / 2.0

    ranks = [midrank(abs(v)) for v in d]
    w_plus = sum(r for r, v in zip(ranks, d) if v > 0)
    e_w = sum(ranks) / 2.0
    var_w = sum(r * r for r in ranks) / 4.0
    z = (w_plus - e_w) / math.sqrt(var_w) if var_w > 0 else None
    return w_plus, e_w, z


def test_wilcoxon_signed_rank_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import wilcoxon_signed_rank

    x = [1.0, 5.0, 3.0, 4.0, 2.0, 6.0, 7.0]
    y = [2.0, 4.0, 6.0, 4.0, 5.0, 9.0, 6.5]  # one zero pair (4,4)
    rows = [("k1", a, b) for a, b in zip(x, y)]
    rows += [("allzero", 3.0, 3.0), ("allzero", 5.0, 5.0)]
    rows += [(None, 1.0, 2.0), ("k1", None, 2.0), ("k1", 1.0, None)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {
        r["k"]: r for r in wilcoxon_signed_rank(df, "k", "x", "y").collect()
    }
    w_plus, e_w, z = _brute_wilcoxon_sr(x, y)
    assert got["k1"]["n_pairs"] == 7 and got["k1"]["n_eff"] == 6
    assert got["k1"]["w_plus"] == pytest.approx(w_plus, abs=1e-6)
    assert got["k1"]["e_w"] == pytest.approx(e_w, abs=1e-6)
    assert got["k1"]["z"] == pytest.approx(z, abs=1e-5)
    # all-zero differences: nothing to rank, fail-closed
    assert got["allzero"]["n_eff"] == 0
    assert got["allzero"]["w_plus"] is None and got["allzero"]["z"] is None


def test_bowker_hand_computed(spark):
    from mr_dice_spark.operators.evaluation import bowker_symmetry

    # 3-category paired table: n_12=5, n_21=2, n_13=1, n_31=1, n_23=0,
    # n_32=3 plus diagonal mass
    rows = []
    rows += [("k1", 1, 2)] * 5 + [("k1", 2, 1)] * 2
    rows += [("k1", 1, 3)] * 1 + [("k1", 3, 1)] * 1
    rows += [("k1", 3, 2)] * 3
    rows += [("k1", 1, 1)] * 4 + [("k1", 2, 2)] * 2
    # perfectly symmetric key: chi2 = 0, dof counts the active pairs
    rows += [("sym", 1, 2)] * 3 + [("sym", 2, 1)] * 3 + [("sym", 1, 1)] * 2
    # diagonal-only key: no flow at all
    rows += [("diag", 1, 1)] * 3
    df = spark.createDataFrame(rows, "k string, a int, b int")
    got = {r["k"]: r for r in bowker_symmetry(df, "k", "a", "b").collect()}
    exp = (5 - 2) ** 2 / 7 + (1 - 1) ** 2 / 2 + (0 - 3) ** 2 / 3
    assert got["k1"]["chi2"] == pytest.approx(exp, abs=1e-6)
    assert got["k1"]["dof"] == 3 and got["k1"]["k_categories"] == 3
    assert got["k1"]["n"] == 18
    # McNemar equivalence at k = 2
    assert got["sym"]["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert got["sym"]["dof"] == 1
    assert got["diag"]["chi2"] is None and got["diag"]["dof"] == 0


def test_partial_correlation_hand_computed(spark):
    import math

    from mr_dice_spark.operators.evaluation import partial_correlation

    # x and y both driven by z plus independent parts
    z = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    x = [2 * v + e for v, e in zip(z, [0.3, -0.1, 0.2, -0.4, 0.1, 0.0, -0.2, 0.25])]
    y = [3 * v + e for v, e in zip(z, [-0.2, 0.4, -0.3, 0.1, 0.2, -0.1, 0.3, -0.15])]
    x = [round(v, 6) for v in x]
    y = [round(v, 6) for v in y]
    rows = [("k1", a, b, c) for a, b, c in zip(x, y, z)]
    # z explains x exactly -> partial undefined
    rows += [("exact", float(v), float(v * v % 5), float(v)) for v in range(1, 6)]
    rows += [(None, 1.0, 2.0, 3.0), ("k1", None, 2.0, 3.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double, z double")
    got = {
        r["k"]: r
        for r in partial_correlation(df, "k", "x", "y", "z").collect()
    }

    def corr(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        return (n * sum(p * q for p, q in zip(a, b)) - sa * sb) / math.sqrt(
            (n * sum(p * p for p in a) - sa * sa)
            * (n * sum(q * q for q in b) - sb * sb)
        )

    rxy, rxz, ryz = corr(x, y), corr(x, z), corr(y, z)
    exp = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert got["k1"]["r_xy"] == pytest.approx(rxy, abs=1e-6)
    assert got["k1"]["r_xy_given_z"] == pytest.approx(exp, abs=1e-5)
    # the raw correlation is inflated by z; the partial strips it
    assert abs(got["k1"]["r_xy_given_z"]) < abs(got["k1"]["r_xy"])
    # |r_xz| = 1: partial fail-closed, raw r's still report
    assert got["exact"]["r_xz"] == pytest.approx(1.0, abs=1e-6)
    assert got["exact"]["r_xy_given_z"] is None


# ---------------------------------------------------------------------------
# round-11 addition: Stuart-Maxwell marginal homogeneity (3 categories)
# ---------------------------------------------------------------------------


def test_stuart_maxwell_hand_and_matrix_form(spark):
    import numpy as np

    from mr_dice_spark.operators.evaluation import stuart_maxwell_3

    # 3x3 paired table; closed form must equal d' S^-1 d on the first
    # two categories (independent matrix-inverse check of the formula)
    n = [[10, 3, 2], [1, 12, 4], [5, 2, 20]]
    rows = [
        ("k1", a, b)
        for a in range(3)
        for b in range(3)
        for _ in range(n[a][b])
    ]
    rows += [("twocat", 0, 1), ("twocat", 1, 0), ("twocat", 0, 0)]
    rows += [("diag", c, c) for c in range(3) for _ in range(2)]
    rows += [(None, 0, 0), ("k1", None, 0), ("k1", 0, None)]
    df = spark.createDataFrame(rows, "k string, a int, b int")
    got = {r["k"]: r for r in stuart_maxwell_3(df, "k", "a", "b").collect()}
    r_ = [sum(n[i]) for i in range(3)]
    c_ = [sum(n[i][j] for i in range(3)) for j in range(3)]
    d = np.array([r_[0] - c_[0], r_[1] - c_[1]], dtype=float)
    S = np.array(
        [
            [r_[0] + c_[0] - 2 * n[0][0], -(n[0][1] + n[1][0])],
            [-(n[0][1] + n[1][0]), r_[1] + c_[1] - 2 * n[1][1]],
        ],
        dtype=float,
    )
    expect = float(d @ np.linalg.inv(S) @ d)
    k1 = got["k1"]
    assert k1["n"] == sum(r_) and k1["k_categories"] == 3
    assert k1["chi2"] == pytest.approx(expect, abs=1e-6)
    assert k1["chi2"] == pytest.approx(10.0 / 94.0, abs=1e-6)
    assert k1["dof"] == 2
    # only two observed categories: closed form does not apply
    assert got["twocat"]["k_categories"] == 2
    assert got["twocat"]["chi2"] is None and got["twocat"]["dof"] is None
    # perfect agreement: no off-diagonal mass, zero denominator
    assert got["diag"]["k_categories"] == 3 and got["diag"]["chi2"] is None
    assert set(got) == {"k1", "twocat", "diag"}


def test_stuart_maxwell_vs_bowker_direction(spark):
    """Flows that cancel pairwise (symmetric table) have chi2 = 0 even
    when Bowker's would too; a one-way cascade 0->1->2 drifts the
    margins and Stuart-Maxwell charges it."""
    from mr_dice_spark.operators.evaluation import stuart_maxwell_3

    rows = [("drift", 0, 1)] * 6 + [("drift", 1, 2)] * 6
    rows += [("drift", c, c) for c in range(3) for _ in range(4)]
    sym = [("sym", 0, 1), ("sym", 1, 0), ("sym", 0, 2), ("sym", 2, 0),
           ("sym", 1, 2), ("sym", 2, 1)]
    rows += sym * 3
    df = spark.createDataFrame(rows, "k string, a int, b int")
    got = {r["k"]: r for r in stuart_maxwell_3(df, "k", "a", "b").collect()}
    assert got["sym"]["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert got["drift"]["chi2"] > 5.99  # chi2_{2, 0.05} critical value


# ---------------------------------------------------------------------------
# Complete-panel contract (evaluation._complete_panel and its cell half
# _panel_cells, shared by the blocked-design and agreement tests)
# ---------------------------------------------------------------------------

# each panel operator's output columns; every one is called as
# op(df, row_col, col_col, value_col)
_PANEL = {
    "kendalls_w": ["m_raters", "n_items", "s_stat", "tie_correction", "w"],
    "friedman_test": [
        "n_blocks", "k_treatments", "s_stat", "tie_correction", "chi2_r", "df",
    ],
    "icc_two_way": [
        "n_items", "k_raters", "ms_rows", "ms_cols", "ms_err", "icc2_1",
        "icc3_1",
    ],
    "quade_test": [
        "n_blocks", "k_treatments", "a_stat", "b_stat", "f_stat", "df1", "df2",
    ],
    "page_trend_test": [
        "n_blocks", "k_treatments", "l_stat", "e_l", "var_l", "z",
    ],
}
_PANEL_VALUES = {"a": (1, 3, 2, 5), "b": (2, 4, 1, 6), "c": (0, 2, 3, 7)}


def _panel_rows(name):
    """A complete 3 x 4 panel; cochran_q reads each value's parity."""
    binary = name == "cochran_q"
    return [
        (r, c, float(v % 2 if binary else v))
        for r, vs in _PANEL_VALUES.items()
        for c, v in enumerate(vs, 1)
    ]


def _run_panel(spark, name, rows):
    from mr_dice_spark.operators import evaluation

    df = spark.createDataFrame(rows, "r string, c long, v double")
    return getattr(evaluation, name)(df, "r", "c", "v")


@pytest.mark.parametrize("name", sorted(_PANEL) + ["cochran_q"])
def test_panel_lower_duplicates_change_nothing(spark, name):
    """Duplicate (row, col) observations collapse by MAX: adding a
    lower (or, for a 0 outcome, equal) copy of cells changes nothing."""
    rows = _panel_rows(name)
    lower = [(r, c, 0.0 if name == "cochran_q" else v - 1.0)
             for r, c, v in rows[::3]]
    clean = _run_panel(spark, name, rows).collect()
    assert _run_panel(spark, name, rows + lower).collect() == clean


@pytest.mark.parametrize("name", sorted(_PANEL) + ["cochran_q"])
def test_panel_null_rows_change_nothing(spark, name):
    """Rows with a NULL row, col or value are excluded — a row key seen
    only with NULL values does not make the panel ragged."""
    rows = _panel_rows(name)
    noise = [(None, 1, 1.0), ("a", None, 1.0), ("a", 2, None), ("d", 1, None)]
    clean = _run_panel(spark, name, rows).collect()
    assert _run_panel(spark, name, rows + noise).collect() == clean


@pytest.mark.parametrize("name", sorted(_PANEL))
def test_panel_ragged_raises(spark, name):
    with pytest.raises(ValueError, match=f"{name}: ragged panel"):
        _run_panel(spark, name, _panel_rows(name)[1:])


@pytest.mark.parametrize("name", sorted(_PANEL))
def test_panel_empty_input_one_typed_null_row(spark, name):
    """Empty input fails closed to one row with the non-empty output's
    column names and types: zero counts, NULL statistics."""
    full = _run_panel(spark, name, _panel_rows(name))
    empty = _run_panel(spark, name, [])
    assert full.columns == _PANEL[name]
    assert empty.dtypes == full.dtypes
    [row] = empty.collect()
    assert tuple(row) == (0, 0) + (None,) * (len(_PANEL[name]) - 2)


@pytest.mark.parametrize(
    "bad", [float("nan"), float("inf"), float("-inf"), 1e12, -1e12]
)
def test_icc_two_way_non_finite_score_raises(spark, bad):
    """A non-finite score casts to a NULL decimal: the cell would still
    count while its score dropped out of every sum (NaN gave
    ms_err = -2.25, icc3_1 = 3.57 on this panel). A finite score past
    decimal(16,6) must raise the operator's ValueError, not Spark's
    NUMERIC_VALUE_OUT_OF_RANGE from the shape probe."""
    from mr_dice_spark.operators.evaluation import icc_two_way

    rows = [("a", 1, bad), ("a", 2, 2.0), ("b", 1, 1.0), ("b", 2, 3.0)]
    df = spark.createDataFrame(rows, "j string, i long, s double")
    with pytest.raises(ValueError, match="icc_two_way"):
        icc_two_way(df, "j", "i", "s")
