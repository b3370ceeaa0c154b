"""Partitioning-independence tests.

The oracle compare runs Spark with one fixed shuffle layout, so an
order-dependent aggregate (collect_list without a sort, first() without a
within-group constant, float summation order leaking past the rounding
grid) can pass the oracle and still be nondeterministic on a cluster
whose partitioning differs. These tests re-run order-sensitive goldens
under a different shuffle-partition count and a pre-shuffled input
lineage, and require identical results.
"""

import pytest

from mr_dice_spark.golden import GOLDEN

# goldens whose construction involves collect_list/first/limit — the
# shapes where partition order could leak into results
SENSITIVE = [
    "demo5_composition_selfjoin",   # sorted collect_list composition key
    "tfidf_top_terms_per_doc",      # per-doc top-k with tiebreaks
    "minhash_signatures_portable",  # bit-exact aggregate signatures
    "scd2_user_event_history",      # first() over runs + window lineage
    "q10_returned_items",           # global top-20 with tiebreak
    "fair_quota_topk_events",       # quota water-fill + per-group limit
    # round-5 order-sensitive shapes
    "events_funnel_conversion",     # sorted collect_list + greedy fold
    "kmeans_embedding_clusters",    # float mean quantization per sweep
    "cluster_balanced_subsample",   # clustering feeding hash-rank sample
    "weighted_sample_by_length",    # global top-n with hash/id tiebreak
    # round-5 continuation order-sensitive shapes
    "events_pattern_match",         # sorted collect_list -> regex scan
    "pmi_collocations_top",         # global top-k at a rounded-tie boundary
    "embedding_single_linkage",     # iterative label propagation fixpoint
    "value_drift_psi_events",       # percentile edges feed literal folds
    "lsh_single_linkage_clusters",  # banding join -> verify -> fixpoint
    "ccnet_perplexity_buckets",     # NTILE at quantized-score ties
    "bpe_train_merges_corpus",      # iterative argmax feeds literal folds
    # rank_cells consumers: one window over unique (key, value) tie
    # cells, rank sums as exact longs — no row order can leak in
    "mann_whitney_purchase_by_weekday",
    "mood_scale_value_weekend_by_type",
    "ansari_value_weekend_by_type",
    "wilcoxon_signed_even_odd_by_type",
    "lepage_value_weekend_by_type",
    "brunner_munzel_value_weekend_by_type",
    "kendalls_w_bucket_rank_by_type",
    "friedman_weekday_value_by_type",
    "quade_weekday_value_by_type",
    "page_trend_weekly_by_weekday",
    "dunn_posthoc_value_by_weekday",
    # empirical-CDF drift family on the shared two-sample cells: exact
    # counts per (key, value) cell, 9dp-pinned terms summed as decimals
    "w1_value_weekend_by_type",
    "cvm_value_weekend_by_type",
    "energy_dist_value_weekend_by_type",
    "kuiper_value_weekend_by_type",
    "ad_value_weekend_by_type",
    # complete-panel consumers whose cells are not ranked: ICC's decimal
    # means and cochran_q's exact success counts
    "icc_user_bucket_value_by_type",
    "cochran_q_high_value_types",
]


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_independent_of_shuffle_partitioning(spark, oracle_sf_dir, name):
    q = GOLDEN[name]
    base_conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        a = [tuple(r) for r in q.spark(spark, oracle_sf_dir).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = [tuple(r) for r in q.spark(spark, oracle_sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base_conf)
    assert a == b, f"{name} result depends on shuffle partitioning"


def test_hamming_near_dup_matches_bruteforce_and_guards(spark):
    """Randomized 64-bit strings with planted near pairs: the banded
    join must equal the O(n^2) definition exactly at several
    thresholds; width mismatch and hot-band breaker fail fast."""
    import random

    import pytest

    from mr_dice_spark.operators.dedup import hamming_near_dup_pairs

    rng = random.Random(13)

    def rand_bits():
        return "".join(rng.choice("01") for _ in range(64))

    def flip(s, k):
        idx = rng.sample(range(64), k)
        return "".join(
            ("1" if c == "0" else "0") if i in idx else c for i, c in enumerate(s)
        )

    rows = []
    base_strings = [rand_bits() for _ in range(60)]
    for i, s in enumerate(base_strings):
        rows.append((i, s))
    nid = 100
    for i, s in enumerate(base_strings[:20]):
        rows.append((nid + i, flip(s, rng.randint(0, 6))))  # some near, some far
    df = spark.createDataFrame(rows, "id long, bits string")
    for t in (0, 2, 4):
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in hamming_near_dup_pairs(df, "id", "bits", max_dist=t).collect()
        )
        exp = sorted(
            (a, b, d)
            for ai, (a, sa) in enumerate(rows)
            for b, sb in rows[ai + 1:]
            if (d := sum(1 for x, y in zip(sa, sb) if x != y)) <= t
        )
        assert got == exp, f"t={t}"
    with pytest.raises(ValueError, match="uniform width"):
        hamming_near_dup_pairs(
            spark.createDataFrame([(1, "01"), (2, "0101")], "id long, bits string"),
            "id", "bits", max_dist=1, width=4,
        ).collect()
    with pytest.raises(ValueError, match="max_block_rows"):
        const = spark.createDataFrame(
            [(i, "0" * 64) for i in range(50)], "id long, bits string"
        )
        hamming_near_dup_pairs(
            const, "id", "bits", max_dist=4, max_block_rows=10
        ).collect()


def test_hamming_breaker_is_default_on_with_explicit_opt_out(spark):
    """The quadratic-block circuit breaker must be ON by default (a
    finite cap — VERDICT r6: an all-constant fingerprint corpus would
    otherwise run O(m^2) silently), and max_block_rows=None must be the
    deliberate opt-out that still computes the exact quadratic answer."""
    import inspect

    from mr_dice_spark.operators.dedup import hamming_near_dup_pairs

    default = inspect.signature(hamming_near_dup_pairs).parameters[
        "max_block_rows"
    ].default
    assert isinstance(default, int) and default > 0, (
        "hamming_near_dup_pairs.max_block_rows default must be a finite "
        f"cap, got {default!r}"
    )
    const = spark.createDataFrame(
        [(i, "1" * 64) for i in range(30)], "id long, bits string"
    )
    got = hamming_near_dup_pairs(
        const, "id", "bits", max_dist=2, max_block_rows=None
    ).collect()
    assert len(got) == 30 * 29 // 2
    assert all(r["dist"] == 0 for r in got)
