"""Plan-regression tests: the physical plans the engine is designed around
must not silently degrade. These assert the properties SURVEY §4 calls out
— pushdown, broadcast joins, partial aggregation, top-k via
TakeOrderedAndProject, and single-Window fusion for the feature matrix.

Every assertion here pins the LAYOUT-ABSENT default shape (the module
fixture points layout discovery at an empty scratch root): self-routing
onto bucketed layouts makes plans strictly better (fewer exchanges), and
the routed shapes have their own tests (test_skew_bucketing,
test_layout_incremental) — letting whatever layouts happen to sit in the
shared /tmp root leak in here made these assertions depend on which
maintenance command ran last."""

from __future__ import annotations

import pytest

from vectra_player_spark import plans


@pytest.fixture(autouse=True)
def _layout_free(spark, tmp_path):
    from vectra_player_spark.operators.skew import _BUCKETED_EVENTS, _BUCKETED_FACTS

    spark.conf.set("spark.vectra.bucketed.location", str(tmp_path / "no_layouts"))
    _BUCKETED_EVENTS.clear()
    _BUCKETED_FACTS.clear()
    yield
    spark.conf.unset("spark.vectra.bucketed.location")
    _BUCKETED_EVENTS.clear()
    _BUCKETED_FACTS.clear()


_PLAN_STRING_CAP = "spark.sql.maxPlanStringLength"


def _physical(spark, sf_dir, name):
    """The WHOLE physical plan as text. The session caps plan strings at
    256 KiB, which keeps only the head of the big curation funnels' plans;
    the cap is lifted for this render alone (to Spark's own maximum) so the
    guards below see every operator."""
    df = plans.QUERIES[name].spark_fn(spark, sf_dir)
    cap = spark.conf.get(_PLAN_STRING_CAP)
    spark.conf.set(_PLAN_STRING_CAP, str(2**31 - 16))
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(_PLAN_STRING_CAP, cap)


def test_q1_scan_is_pruned_and_pushed(spark, sf_dir):
    plan = _physical(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    assert "l_comment" not in plan
    assert "ReadSchema" in plan
    # map-side partial aggregation before the exchange
    assert "partial_" in plan


def test_q3_q5_join_strategy_is_broadcast(spark, sf_dir):
    # True dimensions (nation/region, and q3's size-estimated small sides)
    # broadcast; the customer-side joins carry NO forced hint — customer is
    # SF-scaled, so their strategy is AQE's call (broadcast while small,
    # shuffle join at lake scale). A forced broadcast there OOMs at 100 TB.
    for name in ("q3_top_revenue_orders", "q5_region_revenue"):
        plan = _physical(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    q5 = _physical(spark, sf_dir, "q5_region_revenue")
    assert q5.count("BroadcastHashJoin") >= 2  # nation + region stay pinned


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _physical(spark, sf_dir, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT-k


def test_feature_matrix_single_window_operator(spark, sf_dir):
    plan = _physical(spark, sf_dir, "feature_matrix")
    # all 13 feature expressions share one (user_id, event_id) window sort:
    # exactly one Window node, one Sort, one Exchange
    assert plan.count("Window [") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_minhash_signature_stage_has_no_shuffle(spark, sf_dir):
    from vectra_player_spark.operators.dedup import minhash_signatures
    from vectra_player_spark.tables import t

    sig = minhash_signatures(t(spark, sf_dir, "documents"))
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # signatures are map-side only
    assert plan.count("md5") <= 2  # one md5 pass (filter + project copies)


def test_strategy_grid_is_broadcast_cross_join(spark, sf_dir):
    plan = _physical(spark, sf_dir, "strategy_grid_sweep")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lake_scan_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from vectra_player_spark.sources.event_lake import (
        normalize_envelope,
        read_event_lake,
        write_event_lake,
    )

    raw = spark.createDataFrame(
        [
            {"ts": "2026-01-10T00:00:00+00:00", "source": "cdp", "doc_type": dt,
             "session_id": "s", "seq": i, "direction": "received", "raw_json": "{}"}
            for i, dt in enumerate(["game_tick", "player_action", "complete_game"])
        ]
    )
    path = str(tmp_path / "lake")
    write_event_lake(normalize_envelope(raw), path)
    df = read_event_lake(spark, path, doc_type="game_tick")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "doc_type" in plan.split("PartitionFilters")[1][:200]


def test_embedding_lsh_joins_stay_equi_keyed(spark, sf_dir):
    plan = _physical(spark, sf_dir, "embedding_neardup_lsh")
    # the whole point of banded blocking: every join is an equi-join on the
    # (label, band, bucket) / vec_id keys — a cartesian or nested-loop plan
    # would reintroduce the quadratic blow-up the blocking removes
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_eval_ngrams(spark, sf_dir):
    plan = _physical(spark, sf_dir, "doc_decontamination")
    # the benchmark's distinct shingle set must broadcast: at corpus scale
    # the training side is scanned once map-side; a sort-merge join on the
    # SHINGLE key would shuffle the whole corpus's n-grams. (The member
    # re-attach join on _rep may legitimately sort-merge — both of its
    # sides are corpus-sized at scale — so the assertion targets the
    # shingle join specifically, not plan-text ordering.)
    shingle_joins = [
        ln for ln in plan.splitlines()
        if "Join [shingle" in ln or ("Join" in ln and "[shingle#" in ln)
    ]
    assert shingle_joins, plan[:3000]
    assert all("BroadcastHashJoin" in ln for ln in shingle_joins), shingle_joins


def test_dedup_canonical_collapses_before_pair_join(spark, sf_dir):
    plan = _physical(spark, sf_dir, "doc_dedup_canonical")
    # collapse-first: a HashAggregate on the fingerprint must sit below the
    # LSH band self-join (pairs are generated over reps, not raw docs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # fp collapse + CC aggregates


def test_funnel_reuses_one_user_exchange(spark, sf_dir):
    plan = _physical(spark, sf_dir, "funnel_conversion")
    # three chained running-min windows + the final groupBy all share the
    # user_id hash partitioning: exactly ONE exchange on user_id — the
    # sequential window passes must not each re-shuffle
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:3000]


def test_ewma_is_single_window_pass(spark, sf_dir):
    plan = _physical(spark, sf_dir, "ewma_features")
    # all 20 lag taps share one (user_id, event_id) window spec
    assert plan.count("Window [") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    plan = _physical(spark, sf_dir, "interval_range_join")
    # the whole point of time-bucket discretization: the interval probe is
    # an EQUI-join on the bucket key, never a nested-loop theta-join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(bucket" in plan or "BroadcastHashJoin" in plan, plan[:3000]


def test_split_and_mixture_are_map_only(spark, sf_dir):
    # hash split + mixture sampling are projections/filters over the scan:
    # at 100 TB they must compile to zero shuffles
    for name in ("doc_train_split", "doc_source_mixture", "doc_denylist_scrub"):
        plan = _physical(spark, sf_dir, name)
        assert "Exchange" not in plan, (name, plan[:2000])


def test_skewed_rollup_is_two_stage(spark, sf_dir):
    plan = _physical(spark, sf_dir, "skewed_event_rollup")
    # the salted distinct expands to three exchanges — (key, salt, user),
    # (key, salt), (key) — i.e. the distinct state is sharded by the salt
    # before anything meets on the bare hot key; the salt expression must
    # survive into the partitioning keys, not be optimized out
    assert plan.count("Exchange hashpartitioning") == 3, plan[:3000]
    assert "pmod(hash(user_id" in plan, plan[:3000]


def test_sequence_packing_single_window(spark, sf_dir):
    plan = _physical(spark, sf_dir, "doc_sequence_packing")
    # one cumsum window partitioned by source, then the pack-level agg
    # reuses that partitioning (groupBy key is a superset prefix? no —
    # (source, pack_id) requires its own exchange; assert the window is
    # single and no extra shuffles beyond the two stages)
    assert plan.count("Window [") == 1, plan[:3000]
    assert plan.count("Exchange") <= 2, plan[:3000]


# Queries whose plan legitimately contains BroadcastNestedLoopJoin: a tiny
# broadcast parameter grid (thresholds, Kelly fractions, MC configs, knn
# query vectors) crossed against data or against a scalar aggregate. The
# broadcast side is O(grid), never data-sized.
_BNLJ_ALLOWED = {
    "asof_join_grid",
    "bm25_topk_retrieval",  # 1-row (N, avgdl) scalar broadcast
    "mmr_rerank_topk",  # 1-row query-vector broadcast
    "hybrid_rrf_retrieval",  # both arms' 1-row scalar/query broadcasts
    "ntile_user_quartiles",  # exact_ntile's 1-row cut-array/n_total broadcasts
    "doc_ccnet_buckets",  # same exact_ntile 1-row broadcasts (tertile cut)
    "doc_nb_calibration",  # exact_ntile cut broadcasts + the NB class table
    "corpus_curation_pipeline_v3",  # embeds the same exact_ntile cut
    "q22_sales_opportunity",  # 1-row (total, n) avg-balance scalar broadcast
    "q11_important_parts",  # 1-row national-total scalar broadcast
    "q15_top_supplier",  # 1-row MAX(revenue) scalar broadcast
    "doc_tfidf_topterms",  # 1-row corpus-size scalar broadcast
    "conditional_end_prob",
    # same broadcast duration-histogram × grid cross as conditional_end_prob
    # (the hazard curve feeding slot 10) — the episode side stays equi-joined
    "rl_observation_set",
    "gbt_threshold_analysis",
    "kelly_entry_table",
    "kelly_fractions_table",
    "knn_bruteforce_cosine",
    "knn_ivf_cosine",
    "rag_retrieval_context",  # brute_force_topk's 5-query broadcast side
    "knn_ivf_kmeans_recall",
    "knn_ivf_nprobe_curve",  # same shape as knn_ivf_kmeans_recall ×5 points
    "doc_decontamination_bloom",  # 1-row Bloom position-array broadcast
    "doc_nb_classifier",  # K-row class-constant table broadcast (K langs)
    "doc_nb_confusion",  # same K-row class broadcast as its parent
    "doc_nb_bigram_confusion",  # same K-row class broadcast (bigram variant)
    "corpus_curation_pipeline_v4",  # embeds the same NB class broadcast
    "doc_bpe_vocab_stats",  # 1-row corpus-stat × 1-row vocab-count crosses
    "doc_vocab_coverage",  # 8-row k-grid range join + 1-row total broadcast
    "multimodal_phash_neardup_stats",  # 1-row intra × 1-row inter scalar cross
    "doc_semantic_dedup",  # assign_cells' 16-row centroid-model broadcast
    "knn_pq_adc_recall",
    # same pinned-small broadcast sides as its two parents: the 50-query
    # brute-force ground truth + the 16-centroid routing cross
    "knn_ivfpq_adc_recall",
    "optimal_entry_window",
    "strategy_best_config",
    "strategy_grid_sweep",
    "strategy_grid_sweep_2100",
    "volatility_sizing_tiers",
}


def test_no_plan_antipatterns_anywhere(spark, sf_dir):
    """Global guard over EVERY registered query's physical plan:
    - BatchEvalPython (row-at-a-time Python UDF) is banned outright — the
      engine's hot paths are built-ins/HOFs or Arrow-batched only;
    - CartesianProduct is banned outright;
    - BroadcastNestedLoopJoin only where a parameter grid broadcasts."""
    offenders = {}
    for name, spec in sorted(plans.QUERIES.items()):
        plan = _physical(spark, sf_dir, name)
        bad = []
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime-filter lever (SURVEY §4): with a selective dim-side filter on
    a shuffle join, Spark can inject a bloom filter built from the creation
    side into the fact-side scan (might_contain in the optimized plan) —
    the row-group-skipping lever that turns a 100 TB fact scan into a
    fraction of itself when the dim filter is selective. Pinned with the
    thresholds opened up (creationSideThreshold is a MAX size; local test
    relations are far below the default application-side minimum), and the
    filtered count must equal the unfiltered join's."""
    from pyspark.sql import functions as F

    from vectra_player_spark.tables import t

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
        li = t(spark, sf_dir, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt
        with_filter = {(r["o_orderpriority"], r["count"]) for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    li = t(spark, sf_dir, "lineitem")
    plain = {
        (r["o_orderpriority"], r["count"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert with_filter == plain


def test_q19_derived_disjuncts_push_below_join(spark, sf_dir):
    """TPC-H Q19 shape: the OR-of-ANDs mixes both join sides, so the full
    predicate can only run post-join — but Catalyst must derive the
    per-side unions (quantity ranges → lineitem scan, brand/size →
    part scan) and push them into the parquet DataFilters, or the 100 TB
    fact scan reads every row for a <1% disjunct."""
    plan = _physical(spark, sf_dir, "q19_disjunctive_revenue")
    scans = [s for s in plan.split("FileScan parquet") if "DataFilters" in s]
    li = next(s for s in scans if "l_quantity" in s.split("DataFilters")[1][:400])
    part = next(s for s in scans if "p_brand" in s.split("DataFilters")[1][:400])
    assert "OR" in li.split("DataFilters")[1][:400]
    # the part-side filter text is truncated in toString before its OR;
    # the pushed brand/size conjuncts prove the derived disjunct landed
    part_filters = part.split("DataFilters")[1][:400]
    assert "p_brand" in part_filters and "p_size" in part_filters


def test_q7_self_aliased_dims_filter_and_broadcast_separately(spark, sf_dir):
    """Same dim table joined twice under different roles: each alias must
    get its own pushed n_name disjunct filter and its own broadcast — a
    shared-scan or shuffle plan here means alias resolution regressed."""
    plan = _physical(spark, sf_dir, "q7_volume_shipping")
    n_name_filters = plan.count("(n_name")
    assert n_name_filters >= 2, plan[:3000]
    # Pin only the two aliased nation broadcasts (build side carries
    # n_name); the sup/ord/cust join strategy is AQE's call and must not
    # be pinned — a threshold or lake-size change flipping those to
    # sort-merge is a legitimate plan, not a regression.
    bhj_heads = [seg[:200] for seg in plan.split("BroadcastHashJoin")[1:]]
    assert any("n1_key" in h for h in bhj_heads), plan[:3000]
    assert any("n2_key" in h for h in bhj_heads), plan[:3000]


def test_keyset_pagination_pushes_cursor_and_avoids_global_sort(spark, sf_dir):
    plan = _physical(spark, sf_dir, "keyset_paginate_orders")
    # The cursor tuple-comparison must reach the parquet scan as an OR
    # filter, and the page must come from a per-partition top-k, not a
    # global Sort + offset (the OFFSET form's cost = whole-table sort).
    assert "PushedFilters: [Or(GreaterThan(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_trailing_hll_report_accuracy_floor(spark, sf_dir):
    row = plans.QUERIES["trailing_hour_uniques_hll"].spark_fn(spark, sf_dir).collect()[0]
    # rsd=0.05 sketch against exact sliding distinct: sf0.001 cardinalities
    # are small enough that HLL++ linear counting is near-exact; at sf0.1
    # the measured mean error is ~2.5% (SCALE.md). Pin a loose floor so a
    # frame/rsd regression trips it.
    assert row.n_rows > 0
    assert row.mean_rel_err <= 0.05
    assert row.frac_within_rsd >= 0.85


def test_data_quality_report_single_scan_per_table(spark, sf_dir):
    """The round-4 rewrite's contract: every table's checks share ONE
    scan (5 full scans + 2 key-only dim sides), not one scan per check."""
    from vectra_player_spark.plans.queries_pipeline import data_quality_report

    df = data_quality_report(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # optimizedPlan lists each relation once per logical scan (the
    # executed-plan string double-prints under AQE)
    assert opt.count("Relation") == 7, opt.count("Relation")
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Exchange hashpartitioning") <= 2


def test_zorder_box_rollup_pushes_box_predicate(spark, sf_dir):
    from vectra_player_spark.plans.queries_pipeline import zorder_box_rollup

    df = zorder_box_rollup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both box dimensions must reach the parquet scan (footer min/max
    # skipping is the entire point of the z-layout)
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "user_id" in pushed and "value" in pushed, pushed


def test_topology_sensitive_pin_gate():
    """Round-7 ADVICE: the gbt pin must drop to rows-only (oracle=None)
    under VECTRA_TOPOLOGY_SENSITIVE_PINS, and keep its VALUES pin by
    default. Checked in a fresh subprocess because registration happens
    at plans import."""
    import os
    import subprocess
    import sys

    child = (
        "from vectra_player_spark import plans;"
        "q = plans.QUERIES['gbt_threshold_analysis'];"
        "print('ORACLE_IS_NONE' if q.oracle is None else 'ORACLE_PINNED')"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for env_val, expect in ((None, "ORACLE_PINNED"), ("rows-only", "ORACLE_IS_NONE")):
        env = dict(os.environ, PYTHONPATH=repo)
        env.pop("VECTRA_TOPOLOGY_SENSITIVE_PINS", None)
        if env_val is not None:
            env["VECTRA_TOPOLOGY_SENSITIVE_PINS"] = env_val
        out = subprocess.run(
            [sys.executable, "-c", child],
            capture_output=True,
            text=True,
            env=env,
            timeout=120,
        )
        assert expect in out.stdout, (env_val, out.stdout[-500:], out.stderr[-500:])
