"""Hypothesis property tests for the rank statistics: every
rank-based statistic must be INVARIANT under the transform class its
theory promises (strictly monotone for pure-rank tests, affine for
deviation-then-rank, label permutation for categorical tables), and the
shared ``rank_cells`` primitive must agree with a pure-Python midrank.

These run each example through Spark, so example counts stay small —
the properties are exact-equality checks on exact-integer outputs, so
a single violating example would fail deterministically.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

_vals = st.lists(
    st.integers(min_value=0, max_value=9), min_size=4, max_size=12
)


@settings(max_examples=8, deadline=None)
@given(xs=_vals)
def test_pettitt_monotone_invariant(spark, xs):
    from mr_dice_spark.operators.timeseries import pettitt_from_buckets

    rows = [("a", float(i), float(v)) for i, v in enumerate(xs)]
    rows += [("b", float(i), float(2 * v + 1) ** 3) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "__k string, __h double, __v double")
    got = {r["__k"]: r for r in pettitt_from_buckets(df, "__k").collect()}
    a, b = got["a"], got["b"]
    # k_stat / cp_index / u_at_cp are exact longs over ranks only
    assert (a["k_stat"], a["cp_index"], a["u_at_cp"], a["p_approx"]) == (
        b["k_stat"], b["cp_index"], b["u_at_cp"], b["p_approx"]
    )


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=6,
        max_size=16,
    )
)
def test_dunn_monotone_invariant(spark, xs):
    from mr_dice_spark.operators.anova import dunn_posthoc

    rows = [("a", str(g), float(v)) for g, v in xs]
    rows += [("b", str(g), float(3 * v) ** 3 + 1.0) for g, v in xs]
    df = spark.createDataFrame(rows, "k string, g string, v double")
    res = dunn_posthoc(df, "k", "g", "v").collect()
    a = sorted(
        (r["g_a"], r["g_b"], r["mean_rank_a"], r["mean_rank_b"], r["z"])
        for r in res
        if r["k"] == "a"
    )
    b = sorted(
        (r["g_a"], r["g_b"], r["mean_rank_a"], r["mean_rank_b"], r["z"])
        for r in res
        if r["k"] == "b"
    )
    assert a == b


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=6,
        max_size=16,
    )
)
def test_conover_affine_invariant(spark, xs):
    """|x - mean| scales by |a| under x -> a x + b (a > 0 here), so
    the pooled ranks — and T — cannot move. Integer a, b and small
    integer values keep every double exact, so equality is exact."""
    from mr_dice_spark.operators.anova import conover_squared_ranks

    rows = [("a", str(g), float(v)) for g, v in xs]
    rows += [("b", str(g), 4.0 * v - 7.0) for g, v in xs]
    df = spark.createDataFrame(rows, "k string, g string, v double")
    got = {
        r["k"]: r for r in conover_squared_ranks(df, "k", "g", "v").collect()
    }
    assert got["a"]["t_stat"] == got["b"]["t_stat"]
    assert got["a"]["dof"] == got["b"]["dof"]


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=5,
        max_size=20,
    )
)
def test_somers_order_embedding_invariant(spark, xs):
    """Somers' D depends only on the ORDER of the category codes: any
    strictly increasing relabeling (here 0,1,2,3 -> 0,5,6,50) leaves
    every output — counts and both d's — identical."""
    from mr_dice_spark.operators.anova import somers_d_cells

    remap = {0: 0, 1: 5, 2: 6, 3: 50}
    rows = [("a", x, y) for x, y in xs]
    rows += [("b", remap[x], remap[y]) for x, y in xs]
    df = spark.createDataFrame(rows, "k string, x int, y int")
    got = {r["k"]: r for r in somers_d_cells(df, "k", "x", "y").collect()}
    cols = [
        "n", "concordant", "discordant", "n1_ties_x", "n2_ties_y",
        "d_yx", "d_xy",
    ]
    assert [got["a"][c] for c in cols] == [got["b"][c] for c in cols]


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=6,
        max_size=25,
    )
)
def test_stuart_maxwell_label_permutation_invariant(spark, xs):
    """Marginal homogeneity is a property of the (row, col) label
    STRUCTURE: permuting the three category labels consistently on
    both margins permutes d and the pair sums together, so chi2 is
    unchanged."""
    from mr_dice_spark.operators.evaluation import stuart_maxwell_3

    perm = {0: 2, 1: 0, 2: 1}
    rows = [("a", x, y) for x, y in xs]
    rows += [("b", perm[x], perm[y]) for x, y in xs]
    df = spark.createDataFrame(rows, "k string, a int, b int")
    got = {r["k"]: r for r in stuart_maxwell_3(df, "k", "a", "b").collect()}
    assert got["a"]["chi2"] == got["b"]["chi2"]
    assert got["a"]["k_categories"] == got["b"]["k_categories"]
    assert got["a"]["dof"] == got["b"]["dof"]


def _doubled_midranks(vals):
    """Pure-Python doubled midrank of each distinct value: twice the
    mean 1-based position of its copies in the sorted multiset."""
    s = sorted(vals)
    return {
        v: 2 * sum(i + 1 for i, x in enumerate(s) if x == v) // s.count(v)
        for v in set(s)
    }


_cells = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=8, deadline=None)
@given(xs=_cells)
def test_rank_cells_two_keys_match_python_midranks(spark, xs):
    from pyspark.sql import functions as F

    from mr_dice_spark.operators.ranks import rank_cells

    df = spark.createDataFrame(
        [(a, b, float(v)) for a, b, v in xs], "a int, b int, v double"
    )
    got = {
        (r["a"], r["b"], r["v"]): (r["__t"], r["__hi"], r["__clt"], r["__r2"])
        for r in rank_cells(
            df, ["a", "b"], "v", __hi=F.count_if(F.col("v") > 2)
        ).collect()
    }
    exp = {}
    for key in {(a, b) for a, b, _ in xs}:
        vals = [float(v) for a, b, v in xs if (a, b) == key]
        for v, r2 in _doubled_midranks(vals).items():
            t = vals.count(v)
            clt = sum(1 for x in vals if x < v)
            exp[key + (v,)] = (t, t if v > 2 else 0, clt, r2)
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(xs=_cells)
def test_rank_cells_without_keys_ranks_globally(spark, xs):
    from mr_dice_spark.operators.ranks import rank_cells

    df = spark.createDataFrame([(float(v),) for _, _, v in xs], "v double")
    got = {r["v"]: r["__r2"] for r in rank_cells(df, [], "v").collect()}
    assert got == _doubled_midranks([float(v) for _, _, v in xs])


@settings(max_examples=8, deadline=None)
@given(xs=_cells)
def test_rank_cells_weighted_t_and_below_sums(spark, xs):
    """Pre-aggregated rows: ``t=F.sum(w)`` ranks the weight-expanded
    multiset, and a ``below`` sum is the strict running count of a
    per-cell aggregate — both on the ONE window."""
    from pyspark.sql import functions as F

    from mr_dice_spark.operators.ranks import rank_cells

    rows = [("k", float(v), w + 1, a == 1) for a, w, v in xs]
    df = spark.createDataFrame(rows, "k string, v double, w long, f boolean")
    out = rank_cells(
        df, ["k"], "v",
        t=F.sum("w"),
        below={"__cltf": F.col("__tf")},
        __tf=F.sum(F.when(F.col("f"), F.col("w")).otherwise(0)),
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Window [") == 1
    got = {r["v"]: (r["__t"], r["__r2"], r["__cltf"]) for r in out.collect()}
    expanded = [v for _, v, w, _ in rows for _ in range(w)]
    flagged = [v for _, v, w, f in rows if f for _ in range(w)]
    exp = {
        v: (expanded.count(v), r2, sum(1 for x in flagged if x < v))
        for v, r2 in _doubled_midranks(expanded).items()
    }
    assert got == exp


_TWO_SAMPLE = {
    "mann_whitney_u_by_group": ["n_a", "n_b", "u_a", "mu", "sigma", "z"],
    "mood_scale_test": ["n_a", "n_b", "t_stat", "e_t", "z"],
    "ansari_bradley": ["n_a", "n_b", "t_stat", "e_t", "z"],
    "lepage_2s": ["n_a", "n_b", "z_w", "z_ab", "lepage_l"],
    "brunner_munzel": ["n_a", "n_b", "p_hat", "w"],
    # the empirical-CDF drift family (timeseries.py)
    "wasserstein_1": ["n_a", "n_b", "w1"],
    "cramer_von_mises_2s": ["n_a", "n_b", "cvm"],
    "energy_distance_2s": ["n_a", "n_b", "energy_d2", "energy_d"],
    "kuiper_2s": ["n_a", "n_b", "d_plus", "d_minus", "kuiper_v"],
    "anderson_darling_2s": ["n_a", "n_b", "ad"],
}
_ECDF = ["wasserstein_1", "cramer_von_mises_2s", "energy_distance_2s",
         "kuiper_2s", "anderson_darling_2s"]
# w1 and energy read in value units, so a monotone map moves them
_RANK_ONLY = sorted(set(_TWO_SAMPLE) - {"wasserstein_1", "energy_distance_2s"})


def _two_sample_fn(name):
    from mr_dice_spark.operators import evaluation, timeseries

    return getattr(timeseries if name in _ECDF else evaluation, name)


@pytest.mark.parametrize("name", _RANK_ONLY)
@settings(max_examples=5, deadline=None)
@given(
    xs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=4,
        max_size=16,
    )
)
def test_two_sample_monotone_invariant(spark, name, xs):
    """The rank tests and the CDF-gap statistics see values only through
    their tie-cell order, so the strictly increasing v -> (2v+1)^3
    changes nothing."""
    rows = [("a", str(c), float(v)) for c, v in xs]
    rows += [("b", str(c), float(2 * v + 1) ** 3) for c, v in xs]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    fn = _two_sample_fn(name)
    got = {r["g"]: r for r in fn(df, "g", "c", "v", "1").collect()}
    cols = _TWO_SAMPLE[name]
    assert [got["a"][c] for c in cols] == [got["b"][c] for c in cols]


@pytest.mark.parametrize("name", sorted(_TWO_SAMPLE))
def test_two_sample_degenerate_groups_fail_closed(spark, name):
    """A one-row group, a one-class group and a one-row sample must
    come back as rows with a NULL statistic — never an ANSI
    divide-by-zero."""
    rows = [("solo", "1", 1.0)]
    rows += [("one_class", "0", float(v)) for v in (1, 2, 3)]
    rows += [("singleton_a", "1", 5.0)]
    rows += [("singleton_a", "0", float(v)) for v in (1, 2, 2, 7)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    fn = _two_sample_fn(name)
    got = {r["g"]: r for r in fn(df, "g", "c", "v", "1").collect()}
    assert set(got) == {"solo", "one_class", "singleton_a"}
    last = _TWO_SAMPLE[name][-1]
    assert got["solo"][last] is None and got["one_class"][last] is None
    assert got["singleton_a"]["n_a"] == 1 and got["singleton_a"]["n_b"] == 4


@pytest.mark.parametrize("name", _ECDF)
def test_ecdf_null_and_nan_rows_change_nothing(spark, name):
    """NULL key, NULL sample, NULL value and NaN value rows are all
    excluded: adding them leaves every output row as it was (a NaN-only
    key never appears)."""
    nan = float("nan")
    rows = [("x", "1", float(v)) for v in (1, 2, 2, 5)]
    rows += [("x", "0", float(v)) for v in (0, 2, 3, 3, 8)]
    rows += [("y", "1", 4.0), ("y", "0", 4.0), ("y", "0", 6.0)]
    noise = [(None, "1", 1.0), ("x", None, 2.0), ("x", "1", None)]
    noise += [("x", "0", nan), ("y", "1", nan), ("z", "1", nan)]
    schema = "g string, c string, v double"
    fn = _two_sample_fn(name)

    def run(rs):
        df = spark.createDataFrame(rs, schema)
        return sorted(tuple(r) for r in fn(df, "g", "c", "v", "1").collect())

    clean = run(rows)
    assert [r[0] for r in clean] == ["x", "y"]
    assert run(rows + noise) == clean
