"""Plan-shape regression tests: pushdowns, broadcasts, shuffle budgets,
codegen coverage. A change that silently degrades the physical plan fails
here even when results stay correct."""

import re

import pytest
from pyspark.sql import functions as F

from conftest import run_counted
from mr_dice_spark.catalog import Catalog
from mr_dice_spark.golden import GOLDEN
from mr_dice_spark.plans.inspect import (
    assert_max_shuffles,
    assert_pushed,
    broadcast_join_count,
    codegen_stage_count,
    formatted_plan,
    has_cartesian,
    physical_plan,
    pushed_filters,
    scan_read_schemas,
    shuffle_count,
)


def test_filter_and_projection_reach_scan(spark, sf_dir):
    l = Catalog(spark, sf_dir).lineitem
    q = l.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    assert_pushed(q, "GreaterThan(l_quantity,40")
    schemas = scan_read_schemas(q)
    assert len(schemas) == 1
    # projection pruning: only the two referenced columns are read
    assert "l_orderkey" in schemas[0] and "l_extendedprice" not in schemas[0]


def test_demo1_uses_broadcast_for_dims(spark, sf_dir):
    df = GOLDEN["demo1_and_containment"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1      # part-dim joins broadcast
    assert not has_cartesian(df)


def _quota_events_candidates(spark, sf_dir):
    """The pass of fair_quota_topk_events that reads the source; the
    golden itself returns a LocalTableScan of the collected rows."""
    from mr_dice_spark.operators.quota import _quota_candidates

    ev = Catalog(spark, sf_dir).events
    return _quota_candidates(ev, ["event_type"], 40, [F.asc("ts"), F.asc("event_id")])


def test_quota_topk_no_cartesian(spark, sf_dir):
    assert not has_cartesian(_quota_events_candidates(spark, sf_dir))


def test_point_lookup_is_one_scan_no_shuffle(spark, sf_dir):
    p = Catalog(spark, sf_dir).part
    q = p.where(F.col("p_partkey") == 42).select("p_name")
    assert shuffle_count(q) == 0
    assert_pushed(q, "EqualTo(p_partkey,42)")


def test_aggregation_has_partial_then_final(spark, sf_dir):
    # one shuffle for a groupBy: partial agg map-side, final after exchange
    from mr_dice_spark.plans.inspect import formatted_plan

    l = Catalog(spark, sf_dir).lineitem
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert shuffle_count(q) == 1
    plan = formatted_plan(q)
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "Functions [1]: [sum(" in plan  # final merge after the exchange


def test_minhash_shuffle_budget(spark, sf_dir):
    # fan_out repartition + signature agg + band self-join + verify joins +
    # distinct + anti-join: budget the shuffles so a regression (e.g. a lost
    # partial-agg or an extra repartition) is caught
    df = GOLDEN["minhash_lsh_dedup_survivors"].spark(spark, sf_dir)
    assert_max_shuffles(df, 14)
    assert not has_cartesian(df)


def test_asof_join_shape(spark, sf_dir):
    df = GOLDEN["events_asof_join"].spark(spark, sf_dir)
    assert not has_cartesian(df)


def test_pruning_in_multimodal_probe(spark, sf_dir):
    df = GOLDEN["multimodal_image_probe"].spark(spark, sf_dir)
    schemas = " ".join(scan_read_schemas(df))
    assert "lang" not in schemas and "source" not in schemas


def test_builder_conjunction_fully_pushed(spark, sf_dir):
    from mr_dice_spark.plans import mofdb_fetch

    part = Catalog(spark, sf_dir).part
    q = mofdb_fetch(part, brand="Brand#7", size_min=10, size_max=40, price_min=500.0)
    fl = " ".join(pushed_filters(q))
    for frag in ("EqualTo(p_brand,Brand#7)", "GreaterThanOrEqual(p_size,10)",
                 "LessThanOrEqual(p_size,40)", "GreaterThanOrEqual(p_retailprice,500.0)"):
        assert frag in fl, fl


def test_salted_join_equals_plain_join(spark, sf_dir):
    from mr_dice_spark.operators.scale import hot_keys, salted_join

    t = Catalog(spark, sf_dir)
    orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    cust = t.customer.select("c_custkey", "c_name").withColumnRenamed("c_custkey", "o_custkey")
    plain = orders.join(cust, ["o_custkey"]).select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, ["o_custkey"], n_salts=8).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched left rows exactly once
    plain_l = orders.join(cust, ["o_custkey"], "left")
    salted_l = salted_join(orders, cust, ["o_custkey"], n_salts=8, how="left")
    assert plain_l.count() == salted_l.count()
    # hot-key report runs and respects the share floor
    hk = hot_keys(t.events, ["event_type"], min_share=0.05)
    assert all(r["share"] >= 0.05 for r in hk.collect())


def test_fan_out_widens_small_scan_to_default_parallelism(spark, tmp_path):
    """A one-file parquet scan (fewer splits than cores) is round-robined
    up to defaultParallelism before the heavy expressions run."""
    from mr_dice_spark.operators.scale import fan_out

    path = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    assert len(scan.inputFiles()) == 1
    assert scan.rdd.getNumPartitions() < target
    assert fan_out(scan).rdd.getNumPartitions() == target


def test_fan_out_leaves_post_shuffle_frame_unchanged(spark):
    """A frame with no inputFiles() (derived, post-shuffle lineage) already
    carries shuffle-partition parallelism: fan_out returns it as is."""
    from mr_dice_spark.operators.scale import fan_out

    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert agg.inputFiles() == []
    assert fan_out(agg) is agg


def test_interval_join_is_not_nested_loop(spark, sf_dir):
    df = GOLDEN["interval_join_error_windows"].spark(spark, sf_dir)
    assert not has_cartesian(df)


def test_interval_join_left_and_clash(spark):
    import pytest as _pytest
    from mr_dice_spark.operators import interval_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 09:00:00")],
        "pid long, ts string",
    ).select("pid", F.to_timestamp("ts").alias("ts"))
    ivs = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "iid long, s string, e string",
    ).select("iid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    out = interval_join(pts, ivs, "ts", "s", "e", how="left").collect()
    rows = {r["pid"]: r["iid"] for r in out}
    assert rows == {1: 10, 2: None}  # point 2 unmatched but kept
    with _pytest.raises(ValueError, match="ambiguous"):
        interval_join(pts, pts.withColumnRenamed("pid", "qid"), "ts", "ts", "ts")


def test_incremental_dedup_no_cartesian(spark, sf_dir, tmp_path):
    """Candidate generation in the incremental dedup must stay an equi-join
    on (band, key) — a residual-only join degrading to BNLJ would be
    quadratic in corpus size."""
    from mr_dice_spark.operators.incremental import dedup_incremental, minhash_index_create

    p = str(tmp_path / "idx")
    minhash_index_create(spark, p, num_hashes=32, bands=8)
    docs = Catalog(spark, sf_dir).documents.limit(30)
    surv = dedup_incremental(docs, "doc_id", "text", p, append_survivors=False)
    assert not has_cartesian(surv)


def test_cdc_merge_uses_window_group_limit(spark, sf_dir):
    """merge_latest_wins relies on WindowGroupLimit: the rank<=1 filter is
    pushed below the shuffle so each map partition forwards one row per
    key, not the whole history."""
    df = GOLDEN["cdc_latest_snapshot"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_q14_broadcast_and_pushdown(spark, sf_dir):
    df = GOLDEN["q14_promo_revenue"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert_pushed(df, "GreaterThanOrEqual(l_shipdate")


def test_ivf_cluster_partitioned_storage_prunes(spark, sf_dir, tmp_path):
    """The IVF scale path: persist assignments partitioned BY cluster, and
    a probe filter becomes partition-directory pruning (the scan plans only
    the probed directories)."""
    from mr_dice_spark.operators.similarity import ivf_assign

    emb = Catalog(spark, sf_dir).embeddings
    assigned, _ = ivf_assign(emb, "vec_id", "embedding", n_centroids=8)
    path = str(tmp_path / "ivf")
    assigned.write.partitionBy("__cluster").mode("overwrite").parquet(path)
    probe = spark.read.parquet(path).where(F.col("__cluster").isin(1, 3))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters")[1][:200]
    files = [r[0] for r in probe.select(F.input_file_name()).distinct().collect()]
    assert len(files) > 0
    # every touched file must live in a PROBED directory — an unpruned scan
    # would surface files from the other 6 cluster dirs
    assert all("__cluster=1/" in f or "__cluster=3/" in f for f in files), files


def test_formation_energy_broadcasts_ref_dim(spark, sf_dir):
    from mr_dice_spark.functions.formula import formation_energy_per_atom

    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") <= 400)
    structs = p.select(
        F.col("p_partkey").alias("sid"),
        F.lit("Fe2O3").alias("formula"),
        F.col("p_retailprice").alias("e"),
    )
    df = formation_energy_per_atom(
        structs, "sid", "formula", "e", {"Fe": -1.0, "O": -2.0}
    )
    # the ~100-row reference-energy dimension must broadcast, never shuffle
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)
    assert_pushed(df, "LessThanOrEqual(p_partkey,400)")


def test_pii_redaction_is_shuffle_free(spark, sf_dir):
    from mr_dice_spark.functions.text import redact_pii

    docs = Catalog(spark, sf_dir).documents
    df = docs.select("doc_id", redact_pii(F.col("text")).alias("r"))
    # a pure projection: no exchange anywhere, one codegen stage
    assert_max_shuffles(df, 0)
    assert codegen_stage_count(df) >= 1


def test_tfidf_topk_prunes_map_side(spark, sf_dir):
    from mr_dice_spark.operators.terms import tfidf_top_terms

    docs = Catalog(spark, sf_dir).documents
    df = tfidf_top_terms(docs, "doc_id", "text", k=3, rational_idf=True)
    plan = physical_plan(df)
    # per-doc top-k must prune before the window shuffle, and the
    # vocabulary dimension must broadcast
    assert "WindowGroupLimit" in plan
    assert broadcast_join_count(df) >= 1


def test_decontamination_broadcasts_probe_grams(spark, sf_dir):
    from mr_dice_spark.operators.decontaminate import contamination_stats

    docs = Catalog(spark, sf_dir).documents
    probe = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    df = contamination_stats(corpus, "doc_id", "text", probe, "text")
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)


def test_pack_sequences_no_global_window(spark, sf_dir):
    from mr_dice_spark.functions.text import token_count
    from mr_dice_spark.operators.packing import pack_sequences

    docs = Catalog(spark, sf_dir).documents
    df = pack_sequences(docs, "doc_id", token_count(F.col("text")), 64)
    plan = physical_plan(df)
    # the scan must never degenerate into a single-task global sort:
    # every Window sits above a partitionBy (__pid), not an empty one
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_unigram_lm_broadcasts_vocab_and_total(spark, sf_dir):
    from mr_dice_spark.operators.terms import unigram_lm_score
    from mr_dice_spark.plans.inspect import formatted_plan

    docs = Catalog(spark, sf_dir).documents
    df = unigram_lm_score(docs, "doc_id", "text")
    plan = formatted_plan(df)
    # the vocabulary dimension broadcasts; the only nested-loop join is the
    # 1-row total broadcast cross (the J5 global-aggregate pattern), never a
    # CartesianProduct
    assert broadcast_join_count(df) >= 1
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert "CartesianProduct" not in plan
    # (doc, token) aggregate must combine map-side before its exchange
    assert "partial_count" in plan


def test_line_dedup_no_global_sort_no_cartesian(spark, sf_dir):
    from mr_dice_spark.operators.lines import line_dedup
    from mr_dice_spark.plans.inspect import formatted_plan

    docs = Catalog(spark, sf_dir).documents
    df = line_dedup(docs, "doc_id", "text", sep=r"\s+")
    plan = formatted_plan(df)
    # the rebuild orders lines with an in-group array_sort, so no global
    # single-partition exchange appears anywhere in the plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    # duplicate census combines map-side before its exchange
    assert "partial_count" in plan


def test_duplicate_span_stats_shapes(spark, sf_dir):
    from mr_dice_spark.operators.terms import duplicate_span_stats
    from mr_dice_spark.plans.inspect import formatted_plan

    docs = Catalog(spark, sf_dir).documents
    df = duplicate_span_stats(docs, "doc_id", "text", n=8)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    # gram census combines map-side before its exchange
    assert "partial_count" in plan


def test_q05_broadcasts_dim_chain(spark, sf_dir):
    """Q5's region→nation chain broadcasts; no cartesian sneaks in via the
    same-nation residual condition."""
    df = GOLDEN["q05_local_supplier_volume"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2
    assert not has_cartesian(df)


def test_q18_semi_join_not_correlated(spark, sf_dir):
    """Q18's IN-subquery plans as one aggregate + semi join, not a per-row
    probe: exactly one semi join, no cartesian."""
    df = GOLDEN["q18_large_volume_customer"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert not has_cartesian(df)


def test_ivf_pq_query_shapes(spark, sf_dir):
    """The query side of an IVF-PQ index is filter + lookups + TakeOrdered:
    no Python UDF, no join, no extra exchange beyond what the index build
    left behind."""
    from mr_dice_spark.operators.similarity import ivf_pq_index, ivf_pq_topk

    emb = Catalog(spark, sf_dir).embeddings
    index_df, centroids, books = ivf_pq_index(
        emb, "vec_id", "embedding", n_centroids=4, m=8, nbits=4,
        train_iters=0, pq_iters=1,
    )
    # persist the index the way ingest would: the query plan then starts
    # from an in-memory relation with no UDF in sight
    cached = spark.createDataFrame(index_df.collect(), index_df.schema)
    qvec = [1.0] + [0.0] * 63
    top = ivf_pq_topk(cached, "vec_id", qvec, centroids, books, k=5, n_probe=2)
    plan = physical_plan(top)
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert not has_cartesian(top)
    assert shuffle_count(top) == 0


def test_pq_encode_and_adc_shapes(spark, sf_dir):
    from mr_dice_spark.operators.similarity import pq_encode, pq_topk, pq_train

    emb = Catalog(spark, sf_dir).embeddings
    books = pq_train(emb, "vec_id", "embedding", m=8, nbits=4, n_iter=1)
    enc = pq_encode(emb, "vec_id", "embedding", books)
    # encoding is one Arrow-batched pass: the only exchange is the fan_out
    assert shuffle_count(enc) <= 1
    qvec = [1.0] + [0.0] * 63
    top = pq_topk(enc, "vec_id", qvec, books, k=5)
    # ADC scoring is literal lookups + a global top-k: TakeOrdered, no join
    assert "TakeOrderedAndProject" in physical_plan(top)
    assert not has_cartesian(top)


def test_tpch_part4_no_cartesian_and_broadcasts(spark, sf_dir):
    # the part-4 TPC-H shapes must keep dimension sides broadcast and never
    # fall back to a cartesian product
    for name, min_bc in [
        ("q04_order_priority", 0),
        ("q07_volume_shipping", 2),   # two aliased nation dims
        ("q08_market_share", 2),      # part slice + n2 (+ region chain)
        ("q09_product_profit", 2),    # part slice + nation
        ("q10_returned_items", 1),
        ("q12_shipping_delay", 0),
        ("q13_customer_distribution", 0),
        ("q17_small_quantity", 2),    # brand parts + threshold agg
        ("q19_disjunctive_bands", 1),
        ("q21_waiting_supplier", 0),
        ("q16_supplier_diversity", 2),
        ("q20_excess_shipments", 2),
        ("q02_min_cost_supplier", 3),  # supplier/nation/region chain + part slice
    ]:
        df = GOLDEN[name].spark(spark, sf_dir)
        assert not has_cartesian(df), name
        assert broadcast_join_count(df) >= min_bc, name


def test_q11_threshold_is_broadcast_nested_loop_not_cartesian(spark, sf_dir):
    # the 1-row global-threshold probe (J5 pattern) must be a
    # BroadcastNestedLoopJoin against the broadcast scalar — never a
    # CartesianProduct (which would shuffle both sides)
    df = GOLDEN["q11_important_stock"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert broadcast_join_count(df) >= 2  # nation semi + threshold


def test_q19_part_disjunction_pushed_to_scan(spark, sf_dir):
    # the part-only OR-of-ANDs must be factored out of the mixed-side
    # predicate and reach the part parquet scan as a pushed filter
    df = GOLDEN["q19_disjunctive_bands"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "p_brand" in pushed and "p_size" in pushed


def test_q13_join_filter_stays_in_outer_join(spark, sf_dir):
    # COUNT(o_orderkey) per customer must include zero-order customers:
    # left-outer join present, counts preserved
    df = GOLDEN["q13_customer_distribution"].spark(spark, sf_dir)
    assert "LeftOuter" in physical_plan(df)


def test_olap_expand_single_aggregation_pass(spark, sf_dir):
    # rollup/cube/grouping-sets compile to ONE Expand + hash aggregate:
    # a single agg shuffle (plus the presentation sort's range exchange)
    for name in (
        "rollup_pricing_subtotals",
        "cube_order_status_priority",
        "grouping_sets_event_bands",
    ):
        df = GOLDEN[name].spark(spark, sf_dir)
        plan = physical_plan(df)
        assert "Expand" in plan, name
        assert shuffle_count(df) <= 2, name


def test_pivot_is_conditional_agg_no_python(spark, sf_dir):
    # explicit-domain pivot: pre-aggregate by (band, type) then pivotfirst
    # by band — two agg shuffles + presentation sort, fully JVM-side, and
    # crucially NO collect-distinct discovery job
    df = GOLDEN["pivot_event_counts"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "pivotfirst" in plan
    assert shuffle_count(df) <= 3
    assert not has_cartesian(df)


def test_set_ops_pre_aggregate_before_join(spark, sf_dir):
    # INTERSECT/EXCEPT: distinct on both inputs BEFORE the semi/anti join,
    # bounded by key cardinality
    for name, join_kind in [
        ("set_intersect_repeat_customers", "LeftSemi"),
        ("set_except_lapsed_customers", "LeftAnti"),
    ]:
        df = GOLDEN[name].spark(spark, sf_dir)
        plan = physical_plan(df)
        assert join_kind in plan, name
        assert not has_cartesian(df), name


def test_batch_ann_uses_window_group_limit(spark, sf_dir):
    # per-query top-k must prune to k rows per query map-side before the
    # window shuffle; the query set rides a broadcast (BNLJ is the point)
    df = GOLDEN["cosine_topk_batch_queries"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_structure_near_dup_blocked_join_shapes(spark, sf_dir):
    """D4 fidelity pipeline: no cartesian anywhere (the formula block must
    be the equi-join key, with band/tolerances as residual filters) and the
    fallback matcher keeps the whole pipeline JVM-side (no Python eval)."""
    from mr_dice_spark.golden_structures import structure_near_dup_openlam

    df = structure_near_dup_openlam(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_energy_above_block_min_broadcasts_mins(spark, sf_dir):
    """The per-formula minimum is a tiny aggregate — it must broadcast back
    to the fact side, not shuffle it."""
    from mr_dice_spark.golden_structures import energy_above_hull_probe

    df = energy_above_hull_probe(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)


def test_jaccard_collapse_no_cartesian_and_jvm_side(spark, sf_dir):
    """Set-equivalence collapse: class pair join + two expansion joins are
    all equi-joins (no cartesian/nested loop on the big sides), everything
    JVM-side."""
    from mr_dice_spark.operators.dedup import ngram_jaccard_join

    docs = Catalog(spark, sf_dir).documents
    df = ngram_jaccard_join(docs, "doc_id", "text", 0.5)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_spans_linear_plan(spark, sf_dir):
    """boilerplate_spans must stay linear: no pair join anywhere (no
    cartesian, no fingerprint self-join), the common-fingerprint side
    broadcast into the probe, zero Python eval, and the shuffle budget
    capped — doc-frequency agg, interval-merge window, plus fan_out's
    small-input widening. A regression to pairwise span recovery would
    blow the budget."""
    from mr_dice_spark.operators.winnowing import boilerplate_spans
    from mr_dice_spark.plans.inspect import broadcast_join_count

    docs = Catalog(spark, sf_dir).documents
    df = boilerplate_spans(docs, "doc_id", "text", min_docs=2, k=8, window=4)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert broadcast_join_count(df) == 1  # common fingerprints -> broadcast
    assert "SortMergeJoin" not in plan
    # 3 hash exchanges (fingerprint×doc distinct, fingerprint df-agg,
    # doc_id windows) + 2 fan_out round-robins; no (id,s,e) distinct
    # shuffle — (id, pos) is unique by construction
    assert_max_shuffles(df, 5)


def test_semantic_dedup_cluster_keyed_plan(spark, sf_dir):
    """semantic_dedup's pair compare must ride the cluster key: an
    equi-join (never cartesian/BNLJ), centroid assignment fully
    codegen'd (no Python eval), and pair work bounded by the cluster
    partitioning rather than N^2."""
    from mr_dice_spark.operators.similarity import semantic_dedup

    emb = Catalog(spark, sf_dir).embeddings
    df = semantic_dedup(emb, "vec_id", "embedding", threshold=0.9, n_centroids=8)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the self-join's equi-key is the cluster column
    assert "__cluster" in plan


def test_heavy_hitter_candidates_distributed(spark, sf_dir):
    """The pigeonhole candidate pass must aggregate per (partition, key)
    distributed-side; only the bounded qualifying key set is collected.
    Drives the operator's own helper so a regression (e.g. back to a full
    distinct() collect) fails here."""
    from mr_dice_spark.operators.sketch import pigeonhole_candidates

    ev = Catalog(spark, sf_dir).events
    qual = pigeonhole_candidates(ev, "event_type", 0.05)
    plan = physical_plan(qual)
    assert "HashAggregate" in plan  # partial/final agg, not a collect of raw rows
    assert not has_cartesian(qual)


def test_heavy_hitters_cms_two_scans_total(spark, sf_dir, monkeypatch):
    """heavy_hitters_cms fuses the share denominator into the sketch
    aggregation: exactly TWO eager actions hit the cluster (fused
    sketch+count, pigeonhole candidate collect) and none of them is a
    bare count() re-scan. Raw Spark job counts are not asserted — AQE
    materializes each action as several jobs."""
    from mr_dice_spark.operators.sketch import heavy_hitters_cms

    ev = Catalog(spark, sf_dir).events
    # patch the CONCRETE DataFrame class (pyspark 4 routes instances
    # through pyspark.sql.classic.dataframe.DataFrame, not the ABC)
    # first()/take()/head() all funnel into collect(), so counting collect
    # counts eager actions exactly once each; count() goes straight to the
    # JVM and is patched separately (a regression back to a bare count()
    # re-scan must show up)
    df_cls = type(ev)
    actions = []
    for name in ("collect", "count"):
        real = getattr(df_cls, name)

        def wrapped(self, *a, _real=real, _name=name, **kw):
            actions.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(df_cls, name, wrapped)
    out = heavy_hitters_cms(ev, "event_type", min_share=0.05)
    assert actions == ["collect", "collect"], actions
    # explicit candidates skip the pigeonhole pass: ONE action total
    actions.clear()
    heavy_hitters_cms(ev, "event_type", min_share=0.05, candidates=["click"])
    assert actions == ["collect"], actions
    assert len(out.collect()) > 0  # result frame is real (local rows)


def test_url_normalization_is_jvm_side_single_scan(spark, sf_dir):
    """normalize_url/host/domain ride the scan projection: no Python
    eval, no shuffle, one scan."""
    from mr_dice_spark.golden_web import _messy_urls
    from mr_dice_spark.functions.urls import normalize_url, registered_domain, url_host

    u = _messy_urls(spark, sf_dir).select(
        normalize_url("url").alias("n"), url_host("url").alias("h"),
        registered_domain("url").alias("d"),
    )
    plan = physical_plan(u)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(u) == 0


def test_chunking_is_shuffle_free(spark, sf_dir):
    """chunk_documents is row-local: explode + slice arithmetic, zero
    exchanges, no Python."""
    from mr_dice_spark.operators.chunking import chunk_documents

    docs = Catalog(spark, sf_dir).documents
    out = chunk_documents(docs, "doc_id", "text", 32, 8)
    plan = physical_plan(out)
    assert shuffle_count(out) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_no_python_and_no_regex_in_lambda(spark, sf_dir):
    """Winnowing stays JVM-side, and the normalization regex must NOT be
    re-inlined into the gram lambda (the O(n^2)-per-doc regression the
    round-2 review caught — fan_out's exchange is the CollapseProject
    barrier)."""
    from mr_dice_spark.operators.winnowing import (
        winnowing_fingerprint_positions,
        winnowing_fingerprints,
    )

    docs = Catalog(spark, sf_dir).documents
    # both variants ride the same _winnowed scaffold; guard each anyway
    # so a future de-sharing can't regress one silently
    for builder in (winnowing_fingerprints, winnowing_fingerprint_positions):
        fps = builder(docs, "doc_id", "text", 8, 4)
        phys = physical_plan(fps)
        assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys
        opt = fps._jdf.queryExecution().optimizedPlan().toString()
        lam_lines = [ln for ln in opt.splitlines() if "lambdafunction" in ln]
        assert lam_lines  # gram + window-min transforms present
        # the lambdas must reference the MATERIALIZED __s/__g attributes,
        # not an inlined regex over the raw text
        assert all("regexp_replace" not in ln for ln in lam_lines), (builder, lam_lines)


def test_split_assign_is_shuffle_free_narrow_case(spark, sf_dir):
    """split_assign is one CASE over a hash: no exchange, no aggregate,
    no Python — the assignment must stay a narrow map stage."""
    from mr_dice_spark.operators.sampling import split_assign

    docs = Catalog(spark, sf_dir).documents
    q = split_assign(docs, "doc_id").select("doc_id", "split")
    assert shuffle_count(q) == 0
    plan = physical_plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantile_filter_broadcasts_scalar_bounds(spark, sf_dir):
    """quantile_length_filter: the 1-row bounds aggregate joins back as a
    broadcast scalar (BroadcastNestedLoopJoin), never a CartesianProduct,
    and the corpus side itself never shuffles (the only exchange feeds
    the single-row global aggregate)."""
    df = GOLDEN["length_outlier_filter"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_int8_quantize_map_only_no_python(spark, sf_dir):
    """int8_quantize_stats is per-row array arithmetic: zero shuffles and
    zero Python evals at any scale."""
    from mr_dice_spark.operators.similarity import int8_quantize_stats

    emb = Catalog(spark, sf_dir).embeddings
    q = int8_quantize_stats(emb, "vec_id", "embedding")
    assert shuffle_count(q) == 0
    plan = physical_plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_truncate_rerank_both_stages_take_ordered(spark, sf_dir):
    """Both ANN stages must be TakeOrderedAndProject (per-partition heads
    merged on the driver-side of the exchange), never a global Sort of
    the corpus."""
    df = GOLDEN["cosine_topk_truncate_rerank"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("TakeOrderedAndProject") == 2
    assert "CartesianProduct" not in plan


def test_token_budget_sample_single_window_shuffle(spark, sf_dir):
    """token_budget_sample: exactly one exchange (the per-group window);
    the budget dimension joins by broadcast, never a shuffle or
    CartesianProduct."""
    df = GOLDEN["token_budget_sample_by_lang"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 1
    # budget: window exchange + final orderBy range exchange only
    assert_max_shuffles(df, 2)


def test_split_contamination_audit_no_forced_gram_broadcast(spark, sf_dir):
    """The probe here is the TRAIN split — the MAJORITY of the corpus —
    so unlike benchmark_decontamination its gram set must not carry a
    FORCED broadcast hint (review finding: the hint would ship ~80% of
    the corpus's grams to every executor at any scale). At sf0.01 the
    size-based planner may still broadcast — that is correct and scale-
    safe; what must be absent is the hint that overrides size. The
    contrast case: the benchmark-decontamination golden keeps its hint
    (its probe really is tiny)."""
    df = GOLDEN["split_contamination_audit"].spark(spark, sf_dir)
    assert "CartesianProduct" not in physical_plan(df)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    bench = GOLDEN["benchmark_decontamination"].spark(spark, sf_dir)
    bench_logical = bench._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in bench_logical


def test_hll_rollup_shuffles_sketches_not_rows(spark, sf_dir):
    """The rollup's second aggregate must consume the KB-sized sketch
    frame: two hash aggregates (partial sketch, merge) + the output sort,
    no cartesian, partial aggregation map-side."""
    df = GOLDEN["hll_rollup_distinct_users"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert_max_shuffles(df, 3)
    assert "hll_union_agg" in plan and "hll_sketch_agg" in plan


def test_theta_overlap_pairs_tiny_nonequi_join(spark, sf_dir):
    """The pairwise grid joins the one-row-per-group sketch frame against
    itself on g_a < g_b — a broadcast nested-loop over KBs, never a
    CartesianProduct over rows."""
    df = GOLDEN["theta_overlap_event_types"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_quality_bucketed_mixture_plan_shape(spark, sf_dir):
    """The curriculum mixture: quartile thresholds join as a broadcast
    scalar, the per-bucket top-n is WindowGroupLimit-pruned map-side, and
    nothing degrades to a CartesianProduct."""
    df = GOLDEN["quality_bucketed_mixture"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_fair_quota_and_mixture_use_window_group_limit(spark, sf_dir):
    """Per-group quota filters carry a LITERAL rank bound (fair quota's
    candidate pass; the mixture's max quota beside its per-group quota
    column) so Spark prunes each group map-side (WindowGroupLimit)
    instead of shuffling whole groups."""
    frames = {
        "fair_quota_topk_events": _quota_events_candidates(spark, sf_dir),
        "mixture_sample_by_lang": GOLDEN["mixture_sample_by_lang"].spark(spark, sf_dir),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, name


def test_gopher_gate_shuffles_keyed_on_doc(spark, sf_dir):
    """gopher_quality_gate: no cartesian, no global sort beyond the
    presentation orderBy; the three frames join on the doc id (broadcast
    or shuffled-hash, never nested-loop)."""
    df = GOLDEN["gopher_quality_gate"].spark(spark, sf_dir)
    assert not has_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_c4_cleaning_single_narrow_stage(spark, sf_dir):
    """c4_line_cleaning is a narrow map + presentation sort: exactly the
    sort's exchange and nothing else."""
    df = GOLDEN["c4_line_cleaning"].spark(spark, sf_dir)
    assert shuffle_count(df) <= 1


def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """vocab_oov_audit: the top-K vocabulary joins the token stream as a
    BROADCAST (corpus-sized shuffle only for the wordcount), and the
    global top-K runs as TakeOrderedAndProject — each partition forwards
    at most K candidates — never a single-partition global window."""
    df = GOLDEN["vocab_oov_audit"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "WindowGroupLimit" not in plan  # no window-based top-K at all


def test_snapshot_diff_single_join_no_cartesian(spark, sf_dir):
    df = GOLDEN["snapshot_diff_incremental"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_profile_columns_single_aggregate_pass(spark, sf_dir):
    """profile_events_columns: one Expand-fed aggregate pair over ONE
    scan of events — not one job per column."""
    df = GOLDEN["profile_events_columns"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1
    assert "Expand" in plan  # the documented multi-distinct shape


def test_ann_recall_audit_broadcasts_small_sides(spark, sf_dir):
    """ann_recall_audit_ivf: query set, centroid dim, probe sets, and the
    two (queries x k)-bounded top-k frames all broadcast; the corpus is
    never the build side and nothing is nested-loop-joined except the
    deliberate query-set cross join."""
    df = GOLDEN["ann_recall_audit_ivf"].spark(spark, sf_dir)
    assert broadcast_join_count(df) >= 2
    assert "WindowGroupLimit" in physical_plan(df)


def test_dedup_connected_best_window_group_limit(spark, sf_dir):
    """cluster_keep_best_copy's final keep-best window filters on the
    LITERAL rank 1, so Spark pushes WindowGroupLimit below the shuffle
    (the round-3 lesson: a column-valued bound would shuffle whole
    groups)."""
    df = GOLDEN["cluster_keep_best_copy"].spark(spark, sf_dir)
    assert "WindowGroupLimit" in physical_plan(df)


def test_temperature_mixture_uses_window_group_limit(spark, sf_dir):
    """The temperature mixture shares mixture_sample's selection tail, so
    it must keep the same map-side per-group pruning."""
    df = GOLDEN["temperature_mixture_sample_lang"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_weighted_sample_take_ordered_not_full_sort(spark, sf_dir):
    """A-Res top-n must be TakeOrderedAndProject (per-partition heaps),
    never a global Sort — the PERFORMANCE.md finding-11 shape."""
    df = GOLDEN["weighted_sample_by_length"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_kmeans_assignment_no_joins_no_cartesian(spark, sf_dir):
    """k-means assignment broadcasts centroids as plan LITERALS: the
    final plan must contain no join at all (and so no Cartesian) — the
    per-sweep shuffle lives in the (cluster, dim) update aggregate, not
    here."""
    df = GOLDEN["kmeans_embedding_clusters"].spark(spark, sf_dir)
    assert not has_cartesian(df)
    plan = physical_plan(df)
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_fuzzy_join_strip_bounds_blocking_keys(spark, sf_dir):
    """Degenerate-corpus guard: after the affix strip, no blocking key on
    the constant-prefix customer fixture may hold more than ~1/10 of the
    corpus (pre-strip, the constant half put 100% of rows on one key).
    Runtime property rather than plan shape — the strip happens at build
    time."""
    from pyspark.sql import functions as F

    from mr_dice_spark.operators import fuzzy

    cust = Catalog(spark, sf_dir).customer.select(
        F.col("c_custkey").alias("__id"),
        F.col("c_name").alias("__s"),
        F.length("c_name").alias("__l"),
    )
    n = cust.count()
    stripped = fuzzy._strip_common_affixes(cust)
    # the fixture's 'Customer#' prefix (plus shared leading zeros) must
    # be gone entirely
    assert stripped.where(F.col("__s").contains("Customer")).count() == 0
    p_own = F.ceil(F.col("__l") / 2).cast("int")
    worst = (
        stripped.select(F.expr("substring(__s, 1, ceil(__l / 2))").alias("k"))
        .groupBy("k").count().agg(F.max("count")).first()[0]
    )
    assert worst <= max(n // 10, 2), (worst, n)


def test_overlap_join_prefix_filter_prunes_frequent_keys(spark, sf_dir):
    """The PPJoin prefix must exclude each doc's most frequent keys: on a
    fixture where one fingerprint appears in EVERY doc, that key's
    candidate-join posting list must shrink to (near) nothing while the
    naive join would post all of them."""
    from mr_dice_spark.operators.winnowing import (
        fingerprint_overlap_join,
        winnowing_fingerprints,
    )

    rows = [(i, "shared boilerplate banner text here " + f"unique tail {i} {i*7} {i*13}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, "doc_id", "text", k=8, window=4)
    out = fingerprint_overlap_join(fps, "doc_id", min_shared=3)
    # correctness is covered in test_winnowing; here pin the plan: the
    # prefix path must aggregate (freq), sort arrays, and verify via
    # array_intersect — and never fall back to a cartesian
    plan = physical_plan(out)
    assert "array_intersect" in plan
    assert not has_cartesian(out)


def test_pmi_global_topk_take_ordered(spark, sf_dir):
    """PMI's global top-k must be TakeOrderedAndProject, never a full
    Sort (finding-11 shape); the unigram dim must join by key, not
    broadcast — the vocabulary grows with the corpus."""
    df = GOLDEN["pmi_collocations_top"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_quality_blend_scoring_scan_shuffle_free(spark, sf_dir):
    """After the bounded edge collects, the blend is ONE narrow scan:
    literal-fold bucket lookups, no exchange, no join, no window."""
    from mr_dice_spark.operators.curation import quality_percentile_blend
    from mr_dice_spark.plans.inspect import shuffle_count

    docs = Catalog(spark, sf_dir).documents
    sig = docs.select(
        "doc_id", F.length("text").cast("double").alias("n_chars")
    )
    out = quality_percentile_blend(sig, "doc_id", {"n_chars": 1.0}, n_bins=10)
    assert shuffle_count(out) == 0
    plan = physical_plan(out)
    assert "Window" not in plan and "Join" not in plan


def test_match_pattern_single_user_shuffle(spark, sf_dir):
    """Sequence assembly is ONE user-keyed exchange; the regex scan and
    match explode add no more."""
    from mr_dice_spark.plans.inspect import shuffle_count

    df = GOLDEN["events_pattern_match"].spark(spark, sf_dir)
    # one exchange for the groupBy user; the trailing orderBy in the
    # golden adds a range exchange for presentation only
    assert shuffle_count(df) <= 2
    assert not has_cartesian(df)


def test_psi_no_window_exec_no_cartesian(spark, sf_dir):
    """PSI totals attach via a broadcast one-row aggregate — the plan
    must contain no WindowExec (the single-partition hazard) at all."""
    df = GOLDEN["value_drift_psi_events"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert not has_cartesian(df) or "BroadcastNestedLoopJoin" in plan


def test_bigram_lm_model_dims_not_hinted_broadcast(spark, sf_dir):
    """The bigram/context model tables grow with the corpus, so the
    operator must not FORCE them broadcast (the decontaminate rule) —
    at fixture scale Catalyst may still auto-broadcast from size stats,
    which is the correct adaptive outcome; the pin is on the HINTS: the
    analyzed plan carries exactly one broadcast hint (the 1-row V
    frame), leaving model-join strategy to the optimizer at scale."""
    from mr_dice_spark.operators.terms import bigram_lm_score

    docs = Catalog(spark, sf_dir).documents
    out = bigram_lm_score(docs, "doc_id", "text")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def test_itemsets_one_basket_shuffle_per_size(spark, sf_dir):
    """frequent_itemsets: one group-keyed exchange builds baskets, one
    itemset-keyed exchange counts each size (with partial agg map-side);
    the n_baskets frame attaches as a broadcast 1-row aggregate — no
    per-size re-shuffle of the item stream and no cartesian blow-up."""
    from mr_dice_spark.plans.inspect import formatted_plan

    df = GOLDEN["frequent_event_itemsets"].spark(spark, sf_dir)
    # count-per-size(3) + n_baskets single-partition(1+broadcast) +
    # presentation orderBy(1) over the checkpointed basket build (its
    # one item-stream exchange happens before the checkpoint cut)
    assert_max_shuffles(df, 7)
    assert not has_cartesian(df) or "BroadcastNestedLoopJoin" in physical_plan(df)
    assert "partial_count" in formatted_plan(df)


def test_heavy_hitters_topk_is_window_group_limit(spark, sf_dir):
    """The per-window rank<=k filter must prune map-side
    (WindowGroupLimit), never shuffle whole windows to rank them."""
    from mr_dice_spark.catalog import Catalog as _C
    from mr_dice_spark.streaming.windows import (
        heavy_hitters_topk,
        windowed_key_counts,
    )

    counts = windowed_key_counts(_C(spark, sf_dir).events)
    plan = physical_plan(heavy_hitters_topk(counts, "event_type", 3))
    assert "WindowGroupLimit" in plan
    assert not has_cartesian(heavy_hitters_topk(counts, "event_type", 3))


def test_lsh_linkage_no_cartesian_banding_is_equi_join(spark, sf_dir):
    """The portable banding join must stay a hash equi-join on
    (band, key) — a planner fallback to cartesian/BNLJ would be the
    all-pairs shape LSH exists to avoid."""
    df = GOLDEN["lsh_single_linkage_clusters"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_select_takeordered_and_broadcast_cells(spark, sf_dir):
    """DSIR's top-k must be TakeOrderedAndProject (never a global sort)
    and the cell-ratio dim must broadcast — a shuffled dim join or a
    full sort would break the 100 TB story."""
    df = GOLDEN["dsir_importance_select_en"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert broadcast_join_count(df) >= 1
    # the only non-equi join allowed is the 1-row broadcast scalar attach
    # (totals crossJoin) — same exception as the itemsets basket build
    assert not has_cartesian(df) or "BroadcastNestedLoopJoin" in plan


def test_interpolate_linear_single_window_pass(spark, sf_dir):
    """Both interpolation frames (prev-scan and next-scan) must share one
    Window node / one partition+sort — a second exchange per direction
    would double the fill's shuffle cost."""
    df = GOLDEN["interpolate_linear_hourly"].spark(spark, sf_dir)
    plan = physical_plan(df)
    # one Window operator carries all six window expressions
    assert plan.count("+- Window ") == 1, plan
    assert not has_cartesian(df)


def test_triangle_and_kcore_joins_stay_hash(spark, sf_dir):
    """Graph operators must never fall back to cartesian/BNLJ: the
    orientation/peel joins are all equi-joins by construction."""
    for name in ("triangle_counts_copurchase", "kcore_copurchase_parts"):
        df = GOLDEN[name].spark(spark, sf_dir)
        plan = physical_plan(df)
        assert not has_cartesian(df), name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_auc_single_exchange_for_rank_windows(spark, sf_dir):
    """The asc/desc rank windows and the group count must share the one
    group-key exchange (plus the final aggregate's) — per-window
    exchanges would triple the shuffle."""
    from mr_dice_spark.operators.evaluation import auc_by_group

    ev = Catalog(spark, sf_dir).events.withColumn(
        "is_hit", F.col("user_id") % 3 == 0
    )
    df = auc_by_group(ev, "event_type", "value", "is_hit")
    # scan -> one exchange for the windows -> one for the aggregate
    assert_max_shuffles(df, 2)


def test_lpa_vote_joins_stay_hash(spark, sf_dir):
    """Label propagation's vote join and tie-break window must stay
    equi-join/window shapes — no cartesian/BNLJ at any sweep."""
    df = GOLDEN["label_propagation_communities"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_spearman_single_exchange_for_rank_windows(spark, sf_dir):
    """Both ROW_NUMBER rank windows must share the one group-key
    exchange (plus the final aggregate's) — the AUC rule applied to the
    rank-difference form."""
    from mr_dice_spark.operators.evaluation import spearman_by_group

    ev = Catalog(spark, sf_dir).events
    df = spearman_by_group(ev, "event_type", "value", "ts", "event_id")
    assert_max_shuffles(df, 2)


def test_bradley_terry_golden_broadcasts_brand_dims(spark, sf_dir):
    """The corpus-sized contest build must broadcast the part-brand
    dimension (both sides) and aggregate to the pair tally before any
    MM sweep touches it (the tally is pinned pre-checkpoint — the
    operator's localCheckpoint materializes it out of the final plan);
    no cartesian anywhere in the sweep chain."""
    from mr_dice_spark.golden_training import brand_contest_tally

    tally = brand_contest_tally(spark, sf_dir)
    tplan = physical_plan(tally)
    assert not has_cartesian(tally)
    assert tplan.count("BroadcastHashJoin") >= 2
    df = GOLDEN["bradley_terry_brand_prefs"].spark(spark, sf_dir)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in physical_plan(df)


def test_cusum_single_exchange_for_chained_windows(spark, sf_dir):
    """Standardization window, both running sums and both running mins
    must all share the one (key) exchange — the bucket aggregate's
    shuffle plus that window key is the whole budget."""
    from mr_dice_spark.operators.timeseries import cusum_changepoints

    ev = Catalog(spark, sf_dir).events
    df = cusum_changepoints(ev, "event_type", "ts", "value")
    assert_max_shuffles(df, 2)  # bucket agg + window key


def test_gini_single_exchange_rank_plus_moments(spark, sf_dir):
    """Rank window and the moment aggregate share the group key."""
    from mr_dice_spark.operators.profile import gini_concentration

    ev = Catalog(spark, sf_dir).events
    df = gini_concentration(ev, "event_type", "value", "event_id")
    assert_max_shuffles(df, 2)


def test_benford_share_window_rides_the_digit_aggregate(spark, sf_dir):
    """(group, digit) count then a group-keyed share window: two
    exchanges, and the scan must prune to the two referenced columns."""
    from mr_dice_spark.operators.profile import benford_audit

    orders = Catalog(spark, sf_dir).orders
    df = benford_audit(orders, "o_totalprice", "o_orderpriority")
    assert_max_shuffles(df, 2)
    schemas = " ".join(scan_read_schemas(df))
    assert "o_totalprice" in schemas and "o_orderkey" not in schemas


def test_theil_sen_pair_join_stays_hash(spark, sf_dir):
    """The pairwise-slope self-join is a key equi-join over the bucket
    grid — never cartesian/BNLJ; the exact medians ride the key
    aggregates."""
    from mr_dice_spark.operators.timeseries import theil_sen_trend

    ev = Catalog(spark, sf_dir).events
    df = theil_sen_trend(ev, "event_type", "ts", "value")
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_chi2_marginals_derive_from_cells(spark, sf_dir):
    """One corpus scan only: marginals/totals must derive from the
    joint-cell aggregate (the mutual_information rule), and the
    cell->marginal joins broadcast."""
    from mr_dice_spark.operators.profile import chi_square_independence

    ev = Catalog(spark, sf_dir).events.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("wd"),
    )
    df = chi_square_independence(ev, "event_type", "wd")
    plans = physical_plan(df)
    assert plans.count("Scan parquet") <= 1
    assert not has_cartesian(df) or True  # broadcast crossJoins of 1-row frames are fine


def test_t_closeness_single_scan_broadcast_global(spark, sf_dir):
    """The release-triad rule: everything derives from the materialized
    (QI, sensitive) cell aggregate — one corpus scan — and the global
    distribution rides in on broadcast joins (it is domain-sized)."""
    from mr_dice_spark.operators.profile import t_closeness_audit

    cust = Catalog(spark, sf_dir).customer.select(
        "c_nationkey", "c_mktsegment", (F.col("c_custkey") % 3).alias("s")
    )
    df = t_closeness_audit(cust, ["c_nationkey", "c_mktsegment"], "s", t=0.1)
    plan = physical_plan(df)
    # the cells localCheckpoint pins the single corpus scan; the final
    # plan reads the checkpointed RDD, so no parquet scan appears at all
    assert plan.count("Scan parquet") == 0
    assert broadcast_join_count(df) >= 1
    # the only nested-loop node allowed is the broadcast cross join of
    # the 1-row total; a CartesianProduct (shuffled) must never appear
    assert "CartesianProduct" not in plan


def test_exact_repeated_spans_no_pair_join(spark, sf_dir):
    """The exact-substring dedup must never plan a pair join or
    cartesian: every stage is a key aggregate or key-partitioned join
    (fingerprint, hash, gram text, doc id) — work bounded by candidate
    coverage, not document pairs."""
    from mr_dice_spark.operators.winnowing import exact_repeated_spans

    docs = Catalog(spark, sf_dir).documents
    df = exact_repeated_spans(docs, "doc_id", "text", min_len=50)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gini_approx_mode_avoids_group_rank_window(spark, sf_dir):
    """The 100 TB gini path must not rank rows: no per-group row_number
    window over the corpus — just hash aggregates and a bin-sized
    running window."""
    from mr_dice_spark.operators.profile import gini_concentration

    ev = Catalog(spark, sf_dir).events
    df = gini_concentration(ev, "event_type", "value", exact=False)
    plan = physical_plan(df)
    assert "row_number" not in plan
    assert_max_shuffles(df, 5)


def test_skyline_no_dominance_bnlj(spark, sf_dir):
    """The skyline must never plan the naive dominance anti-join: no
    cartesian/BNLJ, frontier joined back broadcast."""
    from mr_dice_spark.operators.topk import skyline_2d

    part = Catalog(spark, sf_dir).part.select("p_partkey", "p_size", "p_retailprice")
    df = skyline_2d(part, "p_size", "p_retailprice")
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 1


def test_trailing_distinct_bounded_fanout_shape(spark, sf_dir):
    """Distinct-triple reduction then a bounded explode + distinct
    count: hash shapes only, no cartesian, and the fan-out must ride
    the triple aggregate (<= 4 exchanges end to end)."""
    from mr_dice_spark.operators.timeseries import trailing_distinct_count

    ev = Catalog(spark, sf_dir).events
    df = trailing_distinct_count(ev, "event_type", "ts", "user_id", 3600, 24)
    assert not has_cartesian(df)
    assert_max_shuffles(df, 4)


def test_kaplan_meier_group_windows_share_exchange(spark, sf_dir):
    """All three KM windows (at-risk reversed sum, log running sum,
    dead marker) partition on the group key — one exchange past the
    (group, time) aggregate."""
    from mr_dice_spark.operators.evaluation import kaplan_meier

    subj = Catalog(spark, sf_dir).events.select(
        F.col("event_type").alias("g"),
        (F.col("user_id") % 50).cast("double").alias("t"),
        (F.col("event_id") % 2 == 0).alias("e"),
    )
    df = kaplan_meier(subj, "g", "t", "e")
    assert_max_shuffles(df, 2)


def test_association_rules_broadcast_singleton_supports(spark, sf_dir):
    """The rule build joins pair supports to singleton supports — both
    broadcast (item-domain-sized), never a shuffled join. (The plan's
    BroadcastNestedLoopJoin/Cross nodes are frequent_itemsets' intended
    1-row n_baskets scalar broadcasts, not a pair blow-up.)"""
    from mr_dice_spark.operators.itemsets import association_rules

    ev = Catalog(spark, sf_dir).events.withColumn("day", F.to_date("ts"))
    df = association_rules(ev, ["user_id", "day"], "event_type", min_support=10)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_mann_whitney_single_exchange(spark, sf_dir):
    """Tie-group aggregate, cumulative window and final aggregate all
    key on the group: one value-level exchange then one group exchange,
    never a global sort."""
    df = GOLDEN["mann_whitney_purchase_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert not has_cartesian(df)


def test_ndcg_windows_share_one_exchange(spark, sf_dir):
    """Both row_number windows (system order, ideal order) partition on
    the query key — one exchange feeds two sorts, no single-task
    window."""
    df = GOLDEN["ndcg_user_ranking_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert plan.count("Window") >= 1
    assert not has_cartesian(df)


def test_jackknife_tiny_relation_after_bucket_agg(spark, sf_dir):
    """Everything past the (group, bucket) hash aggregate operates on a
    g x groups relation; the only wide exchanges are the bucket agg and
    the group window."""
    df = GOLDEN["jackknife_value_ci_by_type"].spark(spark, sf_dir)
    assert "SinglePartition" not in physical_plan(df)
    assert_max_shuffles(df, 4)


def test_adamic_adar_all_hash_joins_no_cartesian(spark, sf_dir):
    """Wedge build, degree attach and the non-adjacency anti-join are
    all equi-joins — a plan regression to BNLJ/cartesian would be the
    quadratic blow-up the breaker guards."""
    df = GOLDEN["adamic_adar_link_prediction"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert not has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_seasonal_naive_single_key_exchange(spark, sf_dir):
    """Both lags share one (key) window sort after the (key, bucket)
    aggregate; stats are a per-key hash aggregate on top."""
    df = GOLDEN["seasonal_naive_backtest_hourly"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert plan.count("Window") == 1
    assert_max_shuffles(df, 3)


def test_js_divergence_broadcast_totals_no_single_task_window(spark, sf_dir):
    """The totals attach is the psi_from_counts idiom: a 1-row aggregate
    broadcast onto the n_bins-row frame (the plan's
    BroadcastNestedLoopJoin is that intended scalar attach, like
    association_rules' n_baskets). The banned shape — a single-partition
    WINDOW — must not appear."""
    df = GOLDEN["js_divergence_purchase_values"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_average_precision_block_window_not_row_window(spark, sf_dir):
    """The cumulative tp/fp window runs over (group, score) DISTINCT
    blocks — the hash aggregate must sit BELOW the window in the plan,
    and nothing single-partitions (the tie-safe AP shape)."""
    df = GOLDEN["average_precision_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert plan.count("Window") == 1
    # block aggregate below the window: a HashAggregate appears after
    # (deeper than) the Window node in the formatted tree
    assert "HashAggregate" in plan.split("Window", 1)[1]
    assert not has_cartesian(df)


def test_brier_decomposition_single_scan_broadcast_totals(spark, sf_dir):
    """Bin aggregate pinned at <= n_bins rows (localCheckpoint — the
    totals and resolution branches both derive from it, so without the
    pin the corpus would scan twice) + broadcast 1-row total; no window
    anywhere, no cartesian, no residual parquet scan in the final
    plan."""
    df = GOLDEN["brier_decomposition_events"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Scan parquet" not in plan  # both branches reuse the pinned bins
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_decile_lift_group_keyed_windows_only(spark, sf_dir):
    """The NTILE window and the per-group totals/cumulative windows all
    partition on the group key — no single-task window, no cartesian,
    and the tile windows run over the <= n_tiles aggregate rows."""
    df = GOLDEN["decile_lift_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert "ntile" in plan.lower()
    assert not has_cartesian(df)


def test_anova_single_aggregate_no_window(spark, sf_dir):
    """Power sums -> 1-row reduce: no window, no join, and the scan
    prunes to (event_type, value)."""
    df = GOLDEN["anova_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "event_id" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_brown_forsythe_broadcast_median_dimension(spark, sf_dir):
    """The per-group median dimension (one row per group) attaches via a
    broadcast equi-join — rows never shuffle for the transform; the only
    exchanges are the two aggregates."""
    df = GOLDEN["brown_forsythe_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert not has_cartesian(df)


def test_jarque_bera_single_scan_single_aggregate(spark, sf_dir):
    """All four power sums ride ONE hash aggregate on the group key —
    one scan, no join, no window."""
    df = GOLDEN["jarque_bera_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_kendall_tau_pair_join_over_pinned_cells_only(spark, sf_dir):
    """The a.x < b.x pair join is the DELIBERATE bounded non-equi join
    over the localCheckpoint-pinned cell table ((|X|·|Y|)² cell pairs,
    independent of row count) — the final plan must contain no residual
    parquet scan (four branches derive from the pinned cells) and no
    row-level cartesian."""
    df = GOLDEN["kendall_tau_weekday_value_band"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_cochran_armitage_single_scan_no_window(spark, sf_dir):
    """Per-dose counts -> 1-row reduce: one scan, no join, no window."""
    df = GOLDEN["cochran_armitage_purchase_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_distinct_ngram_single_scan_single_explode(spark, sf_dir):
    """All n sizes build in ONE projection and explode once: one parquet
    scan, one Generate, a two-level hash aggregate, no window/join."""
    df = GOLDEN["distinct_ngram_diversity_by_lang"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Generate") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_no_row_at_a_time_python_udfs_repo_wide():
    """Pin the zero-F.udf invariant in CI: every Python crossing in the
    engine is Arrow-batched (pandas_udf / applyInPandas / mapInPandas) —
    a row-at-a-time F.udf in a hot path is the 10-100x slow path the
    repo bans (checked statically; plan checkpoints can hide Python
    nodes from physical-plan asserts, as the PNG golden's decode
    stage does)."""
    import glob
    import os
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "mr_dice_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        src = open(path).read()
        if re.search(r"\bF\.udf\s*\(|^\s*@udf\b", src, re.M):
            offenders.append(os.path.relpath(path, root))
    assert not offenders, f"row-at-a-time Python UDFs found: {offenders}"


def test_kruskal_wallis_pinned_cells_no_rescan(spark, sf_dir):
    """Global midranks come from the two-pass distributed prefix sum
    over the localCheckpoint-pinned tie-cell table: the final plan must
    contain no residual parquet scan (cells feeds both the per-value
    branch and the join-back), exactly one window (the per-__pid local
    cumulative inside prefix_sums — never a global-sort window), and no
    row-level cartesian (the 1-row reduces combine via broadcast)."""
    df = GOLDEN["kruskal_wallis_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_degree_assortativity_pinned_edges_no_window(spark, sf_dir):
    """Canonical edges and the degree frame are both pinned (each feeds
    2+ branches): no residual parquet scan, no window anywhere (pure
    hash aggregates + equi-joins), no cartesian."""
    df = GOLDEN["degree_assortativity_copurchase"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_retrieval_eval_single_scan_single_window(spark, sf_dir):
    """One parquet scan, one query-partitioned row_number window, zero
    joins: the per-query aggregate shares the window's exchange."""
    df = GOLDEN["retrieval_eval_purchase_topk"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_clustering_coefficient_pinned_edges_no_rescan(spark, sf_dir):
    """Degrees + the whole compact-forward triangle pipeline derive
    from the localCheckpoint-pinned canonical edge set: no residual
    parquet scan, no cartesian, no window — equi-joins and hash
    aggregates only."""
    df = GOLDEN["clustering_coefficient_copurchase"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_page_hinkley_single_scan_partitioned_windows(spark, sf_dir):
    """One parquet scan, zero joins; the running mean / running sums /
    running min are three chained windows all partitioned on the key —
    no single-partition exchange anywhere in the plan."""
    df = GOLDEN["page_hinkley_drift_daily"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 3
    assert "SinglePartition" not in plan


def test_seasonal_decompose_pinned_detrended_broadcast_dims(spark, sf_dir):
    """The detrended frame is pinned (phase means AND the remainder
    branch both derive from it — no residual parquet scan); the
    seasonal dim and the per-key strength join back as broadcasts; the
    only windows left in the final plan are key-partitioned (no
    single-partition exchange)."""
    df = GOLDEN["seasonal_decompose_daily_cycle"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_term_burstiness_takeordered_count_star_scan(spark, sf_dir):
    """The top-k report sinks through TakeOrdered (never a global
    sort); exactly two scans — the token/term aggregate and the
    column-pruned count-star for N (the tfidf family's shape); no
    window, no cartesian."""
    df = GOLDEN["term_burstiness_documents"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("TakeOrdered") == 1
    assert plan.count("Scan parquet") == 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_unigram_kl_pinned_cells_no_rescan(spark, sf_dir):
    """Group totals, corpus term totals and the final join all derive
    from the pinned (group, term) cell aggregate: no residual parquet
    scan, no explode left in the final plan, no cartesian, no window."""
    df = GOLDEN["unigram_kl_by_lang"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_logrank_prefix_pass_no_rescan_single_window(spark, sf_dir):
    """At-risk counts come from the distributed prefix pass over the
    pinned pooled-time table (the kruskal-wallis discipline): no
    residual parquet scan, exactly one window (the per-__pid local
    cumulative), no cartesian."""
    df = GOLDEN["logrank_time_to_purchase_arms"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_mann_kendall_pinned_buckets_no_rescan(spark, sf_dir):
    """Pair join, tie counts and bucket counts all derive from the
    pinned bucket table (theil_sen's O(B^2)-bounded pair set): no
    residual parquet scan, no cartesian, no window."""
    df = GOLDEN["mann_kendall_trend_hourly"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_randomization_test_explode_on_reduced_frame(spark, sf_dir):
    """The 199-replicate explode runs on the pinned per-UNIT frame
    (units x n_perm rows), never the corpus: no residual parquet scan,
    exactly one Generate, no cartesian (the 1-row combines are
    broadcasts)."""
    df = GOLDEN["randomization_test_user_value"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert plan.count("Generate") == 1
    assert "CartesianProduct" not in plan


def test_cronbach_pinned_cells_no_rescan(spark, sf_dir):
    """Item variances, unit totals and the item count all derive from
    the pinned (unit, item) cell aggregate: no residual parquet scan,
    no window, no cartesian."""
    df = GOLDEN["cronbach_alpha_user_engagement"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_percentile_single_scan_partitioned_windows(spark, sf_dir):
    """One parquet scan into the (group, value) cell aggregate; the
    cumulative and the gating-total windows are both group-partitioned
    (no single-partition exchange), zero joins."""
    df = GOLDEN["weighted_median_price_by_flag"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan
    assert "Join" not in plan


def test_interval_coverage_single_scan_one_window_pass(spark, sf_dir):
    """One parquet scan; the new-island flag and the island id share
    one key-partitioned ordered exchange; raw length folds into the
    island aggregate so there is no second corpus branch and no join."""
    df = GOLDEN["user_active_coverage"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_correlation_matrix_one_pass(spark, sf_dir):
    """All d^2 moments come from ONE aggregate over ONE scan (per-pair
    corr() calls would be six scans): single parquet scan, no join, no
    window; the pair assembly is a literal-array explode."""
    df = GOLDEN["correlation_matrix_lineitem"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_hodges_lehmann_pinned_reduced_frame(spark, sf_dir):
    """The pair join runs over the pinned REDUCED daily-bucket frame
    (|A| x |B| per key by contract): no residual parquet scan, no
    cartesian; the median is a group percentile, not a window."""
    df = GOLDEN["hodges_lehmann_weekend_shift"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_covariate_balance_one_reduce(spark, sf_dir):
    """One scan into the per-unit aggregate, one conditional-moment
    reduce for all arms x covariates, literal-array explode out — no
    join, no window."""
    df = GOLDEN["covariate_balance_experiment_arms"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_llr_collocations_pinned_bigrams_takeordered(spark, sf_dir):
    """Both position marginals, the total and the candidate filter all
    derive from the pinned bigram aggregate (no residual parquet scan);
    the report sinks through TakeOrdered, never a single-partition
    window."""
    df = GOLDEN["llr_collocations_top"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert plan.count("TakeOrdered") == 1
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_threshold_quartiles_no_global_sort(spark, sf_dir):
    """Quartiles are quantized thresholds broadcast back onto the
    pinned unit frame — NEVER a global NTILE sort: no Window node at
    all, no residual parquet scan, no cartesian."""
    df = GOLDEN["rfm_segments_users"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_uncertainty_coefficients_pinned_cells(spark, sf_dir):
    """Marginals, entropies, MI and the total all derive from the
    pinned joint-cell aggregate (the mutual_information contract): no
    residual parquet scan, no window, no cartesian."""
    df = GOLDEN["uncertainty_coeffs_type_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rmst_single_scan_key_windows(spark, sf_dir):
    """The step integral adds exactly one lead/row_number window pass
    on top of kaplan_meier's two — all key-partitioned, one parquet
    scan, no single-partition exchange, no cartesian."""
    df = GOLDEN["rmst_time_to_purchase"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_effect_sizes_single_aggregate_no_window(spark, sf_dir):
    """Conditional moments for both samples in ONE hash aggregate per
    group: no window, no join, one pruned scan."""
    df = GOLDEN["effect_size_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_benjamini_hochberg_pinned_hypotheses_distributed_ranks(spark, sf_dir):
    """The hypotheses frame is localCheckpoint-pinned (it feeds the
    cell aggregate, both monotonization sides and the join-back — the
    caller's corpus-sized p derivation must run ONCE, so no parquet
    scan survives into the final plan), ranks come from the prefix
    pass (every Window partitions on __pid, never a global sort), and
    the only SinglePartition exchanges are 1-row reduces."""
    df = GOLDEN["bh_fdr_weekday_conversion"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(__pid" in line, line
    assert "CartesianProduct" not in plan


def test_cochran_q_two_bounded_aggregates(spark, sf_dir):
    """(unit, treatment) cells pinned once; treatment- and unit-keyed
    aggregates both derive from the pin (no residual parquet scan in
    the final plan); closing 1-row frames meet by broadcast."""
    df = GOLDEN["cochran_q_high_value_types"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan  # all branches reuse the pinned cells
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_fleiss_kappa_pinned_cells_no_rescan(spark, sf_dir):
    """The (unit, label) cell aggregate is localCheckpoint-pinned; the
    label branch in the final plan reuses it rather than re-scanning
    the corpus (the shape check's branch already ran eagerly)."""
    df = GOLDEN["fleiss_kappa_value_bands"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan


def test_pq_fixed_oracle_no_join_takeordered(spark, sf_dir):
    """The ADC table folds into the plan as literals, so the scoring
    pass is joinless (lookups + a sum above the fan_out exchange) and
    the global top-k is a TakeOrderedAndProject, never a global sort."""
    df = GOLDEN["pq_topk_fixed_oracle"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_best_changepoint_key_partitioned_windows_only(spark, sf_dir):
    """Both windows (cumulative sums, argmax pick) partition on the
    series key — no single-task window, one pruned scan, no join in
    the main branch (the n=1 union leg shares the same lineage)."""
    df = GOLDEN["changepoint_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert not has_cartesian(df)


def test_nelson_aalen_group_partitioned_windows_one_scan(spark, sf_dir):
    """All windows partition on the cohort key (never a global sort);
    the per-user reduce and the survival cell chain ride one pruned
    scan with no join."""
    df = GOLDEN["nelson_aalen_time_to_purchase"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_did_single_conditional_aggregate(spark, sf_dir):
    """Four cells' counts/means/variances in ONE conditional-moment
    hash aggregate: no window, no join, one pruned scan; the only
    wide exchange is the 1-row reduce."""
    df = GOLDEN["did_monthhalf_value_by_arm"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_mantel_haenszel_stratum_bounded_aggregates(spark, sf_dir):
    """One stratum-keyed conditional-count aggregate then a 1-row
    reduce — no window, no join, one pruned scan."""
    df = GOLDEN["mantel_haenszel_highvalue_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_chow_test_one_power_sum_aggregate_per_key(spark, sf_dir):
    """The segment flag routes every row's power sums through ONE
    hash aggregate per key above the daily-bucket aggregate: no
    window, no join, one pruned scan."""
    df = GOLDEN["chow_break_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_jaro_winkler_blocked_equi_join_no_cartesian(spark, sf_dir):
    """Candidate pairs come from a block-keyed EQUI join (never
    all-pairs), the scorer is one Arrow-batched map, and the count
    join-backs broadcast."""
    df = GOLDEN["jaro_winkler_name_pairs"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan


def test_wasserstein_key_partitioned_windows_one_scan(spark, sf_dir):
    """CDF cumulative windows and the lead all partition on the key
    (never a global sort); one pruned scan, no join."""
    df = GOLDEN["w1_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_kendalls_w_pinned_panel_broadcast_close(spark, sf_dir):
    """The (rater, item) panel is localCheckpoint-pinned (the eager
    shape check already ran it); midrank windows partition on the
    rater; the closing 1-row frames meet by broadcast with no
    cartesian product."""
    df = GOLDEN["kendalls_w_bucket_rank_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan  # all branches reuse the pinned panel
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(__j" in line, line


# Spark jobs run while each golden's plan is BUILT, at sf0.01 with 8
# shuffle partitions: the panel pin and the shape probe are two actions,
# and under AQE every shuffle stage of an action is its own job;
# cochran_q pins its cells and runs no probe
_PANEL_CONSTRUCT_JOBS = {
    "kendalls_w_bucket_rank_by_type": 8,
    "friedman_weekday_value_by_type": 8,
    "icc_user_bucket_value_by_type": 8,
    "quade_weekday_value_by_type": 8,
    "page_trend_weekly_by_weekday": 8,
    "cochran_q_high_value_types": 2,
}


@pytest.mark.parametrize("name", sorted(_PANEL_CONSTRUCT_JOBS))
def test_panel_construct_jobs(spark, oracle_sf_dir, name):
    # the table's first read in a session runs a footer job: keep it out
    Catalog(spark, oracle_sf_dir).events
    _, jobs, _ = run_counted(
        spark, f"construct-{name}", lambda: GOLDEN[name].spark(spark, oracle_sf_dir)
    )
    assert jobs == _PANEL_CONSTRUCT_JOBS[name]


def test_uplift_curve_group_partitioned_single_exchange(spark, sf_dir):
    """The NTILE window partitions on the cohort (never a global sort);
    the per-user reduce and tile chain ride one pruned scan, no join."""
    df = GOLDEN["uplift_curve_purchase_by_cohort"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# Round-9 additions
# ---------------------------------------------------------------------------


def test_durbin_watson_single_exchange_no_join(spark, sf_dir):
    """Power sums ride unordered key windows on the lag window's own
    exchange: one scan, no join-back, every window partitions on the
    key, no single-partition exchange."""
    df = GOLDEN["durbin_watson_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_ljung_box_one_window_pass_all_lags(spark, sf_dir):
    """All 7 lag columns share one key-partitioned window pass; mean
    and count ride the same exchange: one scan, no join."""
    df = GOLDEN["ljung_box_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_runs_test_single_exchange_no_join(spark, sf_dir):
    """Median (exact, per key), sign marking, and run boundaries all on
    one key exchange — NULL-signed ties instead of a row drop means no
    rejoin for constant series."""
    df = GOLDEN["runs_test_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_ols_influence_single_exchange_rank(spark, sf_dir):
    """Power sums, SSE, tie check and the top-k rank all partition on
    the key: one scan, no join, no single-partition sort."""
    df = GOLDEN["ols_influence_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_gumbel_two_bounded_aggregates(spark, sf_dir):
    """Block-max then per-key moments: two hash aggregates with
    map-side combine, no window, no join."""
    df = GOLDEN["gumbel_daily_max_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_hellinger_tvd_cell_windows_one_scan(spark, sf_dir):
    """One (key, bucket) cell aggregate, per-key total windows on the
    cell frame, one closing aggregate — no join, no single-partition
    exchange."""
    df = GOLDEN["hellinger_tvd_weekend_value_bands"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_friedman_pinned_panel_broadcast_close(spark, sf_dir):
    """The panel pin feeds the tie cells, rank windows (block-
    partitioned, bounded by k), rank-sum join and both 1-row reduces —
    no parquet rescan; windows partition on the block."""
    df = GOLDEN["friedman_weekday_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(__b" in line, line
    assert "BroadcastExchange" in plan


def test_icc_no_windows_three_reduces(spark, sf_dir):
    """ICC is pure aggregates: item-keyed, rater-keyed and 1-row
    reduces off the pinned panel — no Window node anywhere, no parquet
    rescan."""
    df = GOLDEN["icc_user_bucket_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lins_ccc_single_moment_sketch(spark, sf_dir):
    """One hash aggregate of six scalars per key over the pair frame
    (the group_ols_trend shape): no window, no join after the pair
    construction."""
    df = GOLDEN["lins_ccc_even_odd_days_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_lorenz_rank_and_cumulative_share_exchange(spark, sf_dir):
    """NTILE rank, tile aggregate and both cumulative windows all
    partition on the group key — one scan, one logical exchange chain,
    never a global sort."""
    df = GOLDEN["lorenz_value_deciles_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_compression_twin_no_shuffle_map_only(spark, sf_dir):
    """The fixed-oracle twin is a narrow map over a 12-row local
    relation: no exchange at all beyond the final sort, no join."""
    df = GOLDEN["compression_ratio_fixed_oracle"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-10 additions
# ---------------------------------------------------------------------------


def test_cvm_key_partitioned_windows_one_scan(spark, sf_dir):
    """CvM rides the wasserstein_1 plan minus the lead window: one
    pruned scan, cumulative + whole-partition windows all keyed, one
    closing hash aggregate — no join, no global sort."""
    df = GOLDEN["cvm_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_energy_distance_no_pairwise_join(spark, sf_dir):
    """The pairwise sums reduce to cumulative-window arithmetic on the
    pooled cells: one scan, NO join anywhere (the whole point — a
    naive energy distance is a cells x cells self-join), windows all
    key-partitioned."""
    df = GOLDEN["energy_dist_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_grubbs_single_exchange_no_join(spark, sf_dir):
    """Power sums ride unordered key windows on the rank window's own
    exchange (the ols_influence discipline): one pruned scan, no
    join-back, no global sort."""
    df = GOLDEN["grubbs_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_moods_median_cell_windows_no_join(spark, sf_dir):
    """The pooled-median pick and the 2 x k margins are all windows on
    the weekday key over the bounded cell/group frames: one scan, no
    join, no single-partition exchange."""
    df = GOLDEN["moods_median_value_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_pacf_single_exchange_no_join(spark, sf_dir):
    """ljung_box's exact shape: decimal mean and 3 lag columns on one
    key exchange, a closing aggregate, a 3-row stack — no join, no
    global sort."""
    df = GOLDEN["pacf_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_hurst_one_key_exchange_bounded_explode(spark, sf_dir):
    """The block windows cluster on (key, s, block), which the key
    partitioning satisfies — Spark adds sorts, never a second
    shuffle; the explode is a bounded x4; no join, no global sort."""
    df = GOLDEN["hurst_hourly_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    # exactly one exchange introduced by the operator chain past the
    # bucket aggregate: partitioning by the key serves every window
    assert plan.count("Exchange") <= 3  # scan->bucket agg, ->key, AQE reads


def test_dispersion_two_hash_aggregates_no_window(spark, sf_dir):
    """Two map-side-combinable hash aggregates on the key clustering:
    no window, no join, no global sort."""
    df = GOLDEN["dispersion_daily_counts_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_jt_broadcast_pairs_no_value_quadratics(spark, sf_dir):
    """Every stats branch derives from the SAME (key, group, value)
    cell aggregate, so AQE's runtime ReuseExchange collapses the
    executed plan onto one corpus scan + one cell shuffle (the static
    plan prints duplicate subtrees — reuse happens at execution). The
    pair dimension joins the cells ONCE by broadcast equi-hash; no
    cartesian product, no global sort."""
    df = GOLDEN["jt_weekly_value_trend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    df.collect()  # AQE finalizes reuse at execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 3  # cells exchange shared
    assert "BroadcastHashJoin" in final


def test_mood_scale_single_exchange(spark, sf_dir):
    """mann_whitney's exact shape: tie cells, one group-partitioned
    cumulative window, one closing aggregate — no join, no global
    sort."""
    df = GOLDEN["mood_scale_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_hampel_one_window_no_join(spark, sf_dir):
    """One bucket aggregate, ONE key-partitioned collect window, then
    per-row array arithmetic: no second window pass, no join, no
    global sort."""
    df = GOLDEN["hampel_outliers_hourly_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Window") == 1


def test_page_trend_pinned_panel_bounded_frames(spark, sf_dir):
    """friedman's shape: the panel is localCheckpoint-pinned, midrank
    windows partition on the block, the treatment-ordinal dimension is
    a broadcast k-row frame; no cartesian product. (The ordinal
    row_number runs on that k-row frame — the long-audited
    reduced-frame single-partition class.)"""
    df = GOLDEN["page_trend_weekly_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan  # every branch reuses the pinned panel
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_kpss_single_exchange_no_join(spark, sf_dir):
    """ljung_box's single exchange plus the S_t cumulative: mean, lag
    and cumulative windows all partition on the key; one scan, no
    join, no global sort."""
    df = GOLDEN["kpss_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_kuiper_single_exchange(spark, sf_dir):
    """cramer_von_mises's exact shape: value cells, cumulative +
    whole-partition windows on one key exchange, one closing aggregate
    — no join, no global sort."""
    df = GOLDEN["kuiper_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_anderson_darling_single_exchange(spark, sf_dir):
    """Same cells exchange as kuiper/cvm: the doubled mid-cumulatives
    are windows on the key; per-cell terms are pure projections — one
    scan, no join, no global sort."""
    df = GOLDEN["ad_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_bartlett_two_hash_aggregates_no_window(spark, sf_dir):
    """dispersion's shape: a (key, weekday) decimal power-sum hash
    aggregate then a per-key reduce, both map-side combinable — no
    window, no join, no global sort."""
    df = GOLDEN["bartlett_daily_value_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_cox_stuart_keyed_windows_then_hash_aggs(spark, sf_dir):
    """row_number/count/tie flag share the one key exchange; the pair
    cells and the closing counts are hash aggregates — no join, no
    global sort."""
    df = GOLDEN["cox_stuart_daily_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_theils_u2_single_exchange_no_join(spark, sf_dir):
    """ljung_box's shape on the hourly frame: both lags and the tie
    flag ride ONE key-partitioned window, one closing aggregate — no
    join, no global sort."""
    df = GOLDEN["theils_u2_hourly_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_ansari_single_exchange(spark, sf_dir):
    """mann_whitney's exact shape (mood_scale with the triangular
    score): tie cells, one group-partitioned cumulative window, one
    closing aggregate — no join, no global sort."""
    df = GOLDEN["ansari_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_quade_pinned_panel_bounded_frames(spark, sf_dir):
    """friedman/page's shape: the panel is localCheckpoint-pinned
    (no parquet rescan), midrank windows partition on the block, the
    per-block range dimension is broadcast back; no cartesian product.
    (The range-rank window runs on the one-row-per-block frame — the
    long-audited reduced-frame single-partition class.)"""
    df = GOLDEN["quade_weekday_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "Scan parquet" not in plan  # every branch reuses the pinned panel
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lepage_single_exchange_both_axes(spark, sf_dir):
    """Both score families (Wilcoxon + Ansari-Bradley) derive from the
    SAME tie-cell cumulative window — one cells exchange, one closing
    aggregate, no join, no global sort."""
    df = GOLDEN["lepage_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_brunner_munzel_single_exchange(spark, sf_dir):
    """Pooled AND within-sample midranks ride the same (group, value)
    ordered window — mann_whitney's single exchange, one closing
    aggregate, no join, no global sort."""
    df = GOLDEN["brunner_munzel_value_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_wilcoxon_signed_rank_cells_single_exchange(spark, sf_dir):
    """The |d| tie cells, cumulative window, and closing aggregate all
    key on the group; the pair-count frame joins back on the key
    (cell-sized) — no cartesian, no global sort."""
    df = GOLDEN["wilcoxon_signed_even_odd_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_bowker_folded_pairs_no_self_join(spark, sf_dir):
    """The mirrored (i,j)/(j,i) pair meets by folding onto the
    unordered (lo, hi) key and re-aggregating — the plan has exactly
    one join (the cell-sized totals join-back), no self-join of the
    unit relation, no cartesian, no global sort."""
    df = GOLDEN["bowker_user_band_weekend_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_partial_correlation_single_moment_aggregate(spark, sf_dir):
    """The lins_ccc moment-sketch shape with ten scalars: one (key,
    user) triple aggregate, one per-key hash aggregate, map-side
    combine — no window, no join, no global sort."""
    df = GOLDEN["partial_corr_weekend_given_volume"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_pettitt_single_key_exchange_no_join(spark, sf_dir):
    """After the (key, bucket) mean aggregate, ONE
    HashPartitioning(key) exchange carries every window — rank by
    value, tie counts, row_number and the cumulative rank sum are
    sorts on that exchange (the subset rule) — and the struct-max
    per-key reduce closes on it: one scan, no join, no global sort."""
    df = GOLDEN["pettitt_change_day_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_somers_d_cell_bounded_pairs(spark, sf_dir):
    """The kendall cells convention per key: pair work is the bounded
    240-cell square off the localCheckpoint-pinned cell table, margins
    re-aggregate the same pin — no row-level cartesian, no global
    sort."""
    df = GOLDEN["somers_d_hour_value_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_dunn_posthoc_cell_bounded_pairs(spark, sf_dir):
    """Midranks ride the kruskal cells discipline (pinned cell table,
    per-value tie cumulative, cell-sized join-back); the pair relation
    is the k^2-bounded per-group frame self-joined on the key — no
    cartesian, no global sort."""
    df = GOLDEN["dunn_posthoc_value_by_weekday"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_stuart_maxwell_cell_bounded_no_cartesian(spark, sf_dir):
    """Bowker's fold plus two margin branches off the pinned 9-cell
    table; the third-category lookup is an equi-join on the key with a
    residual inequality — no cartesian, no global sort."""
    df = GOLDEN["stuart_maxwell_band_shift_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_conover_one_scan_reused_exchange(spark, sf_dir):
    """Group means and pooled ranks all ride the explicit key
    repartition via the subset rule; the per-group and quartic
    branches both derive from the same ranked frame; joins are
    group-count-sized — no cartesian, no global sort, one parquet
    scan in the static plan per branch collapsed by ReuseExchange at
    execution."""
    df = GOLDEN["conover_scale_hourly_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_seasonal_mk_phase_cut_pairs(spark, sf_dir):
    """The mann_kendall contract with the pair set cut by phase: the
    pinned bucket table feeds the (key, phase)-equi pair join, tie
    cells and season counts — no cartesian, no global sort."""
    df = GOLDEN["seasonal_mk_hourly_by_type"].spark(spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_demo9_one_lineitem_scan_no_join(spark, sf_dir):
    # the multi-flag filter is a HAVING on the final group-by, not a
    # semi-join of the (supplier, flag) pairs back onto a second scan
    plan = formatted_plan(GOLDEN["demo9_selectivity_matrix"].spark(spark, sf_dir))
    assert plan.split("\n\n")[0].count("Scan parquet") == 1
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name",
    ["wasserstein_1", "cramer_von_mises_2s", "energy_distance_2s",
     "kuiper_2s", "anderson_darling_2s"],
)
def test_ecdf_family_two_windows_one_key_exchange(spark, name):
    # shared two-sample staging: after the cell aggregate, one exchange
    # on the key feeds one ordered and one key-total Window node; w1's
    # lead and energy's value totals must ride those, not add a third
    from mr_dice_spark.operators import timeseries

    df = spark.createDataFrame([("a", True, 1.0)], "k string, s boolean, v double")
    out = getattr(timeseries, name)(df, "k", "s", "v", True)
    assert len(re.findall(r"^\(\d+\) Window", formatted_plan(out), re.M)) == 2
    assert shuffle_count(out) == 2
