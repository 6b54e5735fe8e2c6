"""Skew-salting and bucketed-table tests: row-identical results and the
exchange-free plans they exist to produce."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectra_player_spark.operators.skew import bucketed_table, salted_join, write_bucketed


def test_salted_join_row_identical(spark):
    # heavily skewed big side: 90% of rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else i, float(i)) for i in range(1000)], "k long, v double"
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(10)], "k long, name string")
    plain = big.join(small, "k").groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("s")
    )
    salted = salted_join(big, small, "k", salt_factor=8).groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_deterministic_salt(spark):
    big = spark.createDataFrame([(1, float(i)) for i in range(100)], "k long, v double")
    small = spark.createDataFrame([(1, "x")], "k long, name string")
    a = salted_join(big, small, "k").count()
    b = salted_join(big.repartition(13), small, "k").count()
    assert a == b == 100  # hash-salt, not rand(): stable under retries


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # warehouse dir is static (set to /tmp/spark_warehouse by get_spark)
    eps = spark.createDataFrame(
        [(f"g{i % 20}", i, float(i)) for i in range(2000)],
        "game_id string, seq long, value double",
    )
    dims = spark.createDataFrame(
        [(f"g{i}", f"meta{i}") for i in range(20)], "game_id string, meta string"
    )
    write_bucketed(eps, "eps_bucketed", "game_id", buckets=8, sort_col="game_id")
    write_bucketed(dims, "dims_bucketed", "game_id", buckets=8)
    # disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_table(spark, "eps_bucketed").join(
            bucketed_table(spark, "dims_bucketed"), "game_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing pre-co-located both sides
        assert joined.count() == 2000
        # groupBy on the bucket key is exchange-free too
        agg = bucketed_table(spark, "eps_bucketed").groupBy("game_id").count()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS eps_bucketed")
        spark.sql("DROP TABLE IF EXISTS dims_bucketed")


def test_aqe_skew_join_split_engages(spark):
    """The engine's skew story is two-layered: deterministic salting
    (operators/skew.py) where we control the plan, and AQE's runtime
    skew-join split everywhere else. Pin that the split actually ENGAGES:
    with thresholds scaled to test data, a hot-key sort-merge join's final
    adaptive plan carries the skew=true marker — evidence the runtime
    re-plan path is live, not just configured."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        left = left.withColumn(
            "k", F.when(F.col("v") % 2 == 0, 7).otherwise(F.col("k"))
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_event_lake_episode_access(spark, sf_dir):
    """VERDICT r2 #8: the EVENT LAKE bucketed by its episode key. Every
    per-episode access pattern — episode-fetch join, per-user window
    (tick_features' shape), per-user agg — must plan with ZERO Exchange,
    and the window's SortExec must vanish too (one file per bucket makes
    the scan report outputOrdering user_id, ts)."""
    from pyspark.sql import Window

    from vectra_player_spark.operators.skew import materialize_bucketed_events
    from vectra_player_spark.tables import t

    ev = materialize_bucketed_events(spark, sf_dir, "events_by_user_t", buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Spark >=3.0 gates the bucketed scan's sort-order CLAIM behind this
    # conf (claiming it needs a one-file-per-bucket listing check); the
    # materializer guarantees one file per bucket, so opting in is what
    # turns the per-user window's SortExec into a no-op at read time.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        # per-user window: tick_features' exact shape
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        feats = ev.select(
            "user_id", "ts", (F.col("value") - F.lag("value").over(w)).alias("d")
        )
        plan = feats._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "Sort" not in plan, plan[:2000]  # bucket-sorted scan feeds it

        # episode fetch: join against a per-user dim on the bucket key
        dims = ev.groupBy("user_id").agg(F.max("value").alias("peak"))
        fetched = ev.join(dims, "user_id")
        jplan = fetched._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in jplan, jplan[:2000]

        # per-episode agg
        agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan[:2000]

        # and the layout is answer-preserving vs the flat lake
        flat_n = t(spark, sf_dir, "events").count()
        assert ev.count() == flat_n
        assert agg.count() == t(spark, sf_dir, "events").select("user_id").distinct().count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS events_by_user_t")


def test_bucketed_facts_orderkey_join(spark, sf_dir):
    """The TPC-H fact-fact lever (round-3 q9 audit): lineitem+orders
    bucketed on the order key join with no Exchange on either side, and
    with the bucketed-scan ordering conf the per-task SortExec goes too.
    Results stay row-identical to the plain join (same source rows)."""
    from vectra_player_spark.operators.skew import materialize_bucketed_facts
    from vectra_player_spark.tables import t

    li_b, ord_b = materialize_bucketed_facts(spark, sf_dir, buckets=8)
    li, orders = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def shape(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            return p.count("Exchange hashpartitioning"), p.count("Sort ")

        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        buck = li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        # plain: both join sides shuffle + the final agg; bucketed: only
        # the final agg (its key is not the bucket key).
        assert shape(plain)[0] == 3
        assert shape(buck)[0] == 1
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            buck2 = li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey).groupBy(
                "o_orderstatus"
            ).count()
            n_ex, n_sort = shape(buck2)
            assert (n_ex, n_sort) == (1, 0)  # scan supplies the SMJ order
        finally:
            spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, buck.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_q9_self_routing_discovers_layout(spark, sf_dir):
    """Round-5: the DEFAULT q9 entry self-routes. Without the layout the
    fact-fact orderkey SMJ shuffles both sides; once the layout exists —
    including when only the on-disk location survives from an EARLIER
    session (dead in-memory catalog) — discovery re-registers the external
    tables and the same entry plans an exchange-free orderkey join.
    Values identical on both arms."""
    import shutil

    from vectra_player_spark.operators.skew import (
        _BUCKETED_FACTS,
        _fact_table_name,
        bucketed_facts_if_available,
        materialize_bucketed_facts,
    )
    from vectra_player_spark.plans.queries_tpch_extra import q9_product_profit

    root = f"/tmp/vectra_bucketed_route_test_{id(spark)}"
    spark.conf.set("spark.vectra.bucketed.location", root)
    # threshold between the pruned dim estimates (~0.2-0.8 KB at sf0.001)
    # and the pruned orders estimate (~8 KB): dims broadcast — as they do
    # at any real scale — while the fact-fact orderkey join is an SMJ, the
    # join the layout exists for. Disabling broadcast outright would be
    # wrong: dim SMJs would repartition lineitem on partkey/suppkey and
    # destroy the bucket distribution before the orders join.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")

    def orderkey_exchanges(df):
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("+- == Initial Plan ==")[0]  # AQE prints both
        return sum(
            1
            for line in final.splitlines()
            if "Exchange hashpartitioning" in line
            and ("l_orderkey" in line or "o_orderkey" in line)
        )

    def cleanup():
        _BUCKETED_FACTS.clear()
        for name in ("lineitem", "orders"):
            spark.sql(f"DROP TABLE IF EXISTS {_fact_table_name(name, sf_dir, 32)}")
        shutil.rmtree(root, ignore_errors=True)

    try:
        shutil.rmtree(root, ignore_errors=True)
        assert bucketed_facts_if_available(spark, sf_dir) is None
        plain = q9_product_profit(spark, sf_dir)
        plain_rows = sorted(map(tuple, plain.collect()))
        assert orderkey_exchanges(plain) == 2  # both fact sides shuffle

        materialize_bucketed_facts(spark, sf_dir)
        # partial wipe (only orders) → treated as absent, falls back clean
        shutil.rmtree(
            f"{root}/{_fact_table_name('orders', sf_dir, 32)}", ignore_errors=True
        )
        assert bucketed_facts_if_available(spark, sf_dir) is None
        assert orderkey_exchanges(q9_product_profit(spark, sf_dir)) == 2

        materialize_bucketed_facts(spark, sf_dir)
        routed = q9_product_profit(spark, sf_dir)
        assert orderkey_exchanges(routed) == 0  # bucketed scans satisfy the SMJ
        assert sorted(map(tuple, routed.collect())) == plain_rows

        # cross-session discovery: drop the catalog entries (simulating a
        # fresh session whose in-memory catalog never saw the tables) and
        # clear the memo; the on-disk layout alone must re-register.
        _BUCKETED_FACTS.clear()
        for name in ("lineitem", "orders"):
            spark.sql(f"DROP TABLE IF EXISTS {_fact_table_name(name, sf_dir, 32)}")
        assert bucketed_facts_if_available(spark, sf_dir) is not None
        rerouted = q9_product_profit(spark, sf_dir)
        assert orderkey_exchanges(rerouted) == 0
        assert sorted(map(tuple, rerouted.collect())) == plain_rows
    finally:
        spark.conf.unset("spark.vectra.bucketed.location")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        cleanup()


def test_empty_lake_fact_layout_rediscovered_in_fresh_session(spark, sf_dir, tmp_path):
    """A fact layout materialized from an empty lake holds only _SUCCESS,
    no parquet footer. A session that finds it on disk (in-memory catalog
    and memo gone) must still register it and route, not fail inferring a
    schema: the orderkey queries run on the empty layout."""
    import duckdb

    from vectra_player_spark import plans
    from vectra_player_spark.operators.skew import (
        _BUCKETED_FACTS,
        _STALE_LAYOUTS,
        _fact_table_name,
        bucketed_facts_if_available,
        materialize_bucketed_facts,
    )

    lake = tmp_path / "empty_lake"
    lake.mkdir()
    con = duckdb.connect()
    for tbl in ("lineitem", "orders"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/{tbl}.parquet') LIMIT 0)"
            f" TO '{lake}/{tbl}.parquet' (FORMAT PARQUET)"
        )

    def forget_layout():
        _BUCKETED_FACTS.clear()
        _STALE_LAYOUTS.clear()
        for name in ("lineitem", "orders"):
            spark.sql(f"DROP TABLE IF EXISTS {_fact_table_name(name, str(lake), 32)}")

    spark.conf.set("spark.vectra.bucketed.location", str(tmp_path / "layouts"))
    try:
        materialize_bucketed_facts(spark, str(lake))
        forget_layout()
        pair = bucketed_facts_if_available(spark, str(lake))
        assert pair is not None and [df.count() for df in pair] == [0, 0]
        forget_layout()
        plans.QUERIES["q12_priority_shipping"].spark_fn(spark, str(lake)).collect()
    finally:
        forget_layout()
        spark.conf.unset("spark.vectra.bucketed.location")


def test_window_family_self_routing_on_events_layout(spark, sf_dir):
    """Round-5: tick_features/feature_matrix self-route onto the bucketed
    (user_id)-sorted-(user_id, event_id) events layout. Routed plan loses
    BOTH the Window's Exchange and its SortExec (outputOrdering conf +
    one file per bucket); values identical to the plain arm (same
    oracle-checked query either way)."""
    import shutil

    from vectra_player_spark import plans
    from vectra_player_spark.operators.skew import (
        _events_table_name,
        bucketed_events_if_available,
        materialize_bucketed_events_lake,
    )

    root = f"/tmp/vectra_bucketed_evroute_{id(spark)}"
    spark.conf.set("spark.vectra.bucketed.location", root)

    def shape(name):
        df = plans.QUERIES[name].spark_fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        p = df._jdf.queryExecution().executedPlan().toString()
        final = p.split("+- == Initial Plan ==")[0]
        ex = sum(
            1
            for line in final.splitlines()
            if "Exchange hashpartitioning" in line and "user_id" in line
        )
        srt = sum(1 for line in final.splitlines() if "Sort [user_id" in line)
        rows = sorted(
            map(tuple, plans.QUERIES[name].spark_fn(spark, sf_dir).collect())
        )
        return ex, srt, rows

    try:
        shutil.rmtree(root, ignore_errors=True)
        assert bucketed_events_if_available(spark, sf_dir) is None
        ex0, srt0, rows0 = shape("tick_features")
        assert (ex0, srt0) == (1, 1)  # plain scan: shuffle + sort feed the Window
        materialize_bucketed_events_lake(spark, sf_dir)
        ex1, srt1, rows1 = shape("tick_features")
        assert (ex1, srt1) == (0, 0)  # scan satisfies distribution AND order
        assert rows1 == rows0
        exf, srtf, _ = shape("feature_matrix")
        assert (exf, srtf) == (0, 0)
        # dead-catalog discovery (fresh session analog)
        from vectra_player_spark.operators.skew import _BUCKETED_EVENTS

        _BUCKETED_EVENTS.clear()
        spark.sql(f"DROP TABLE IF EXISTS {_events_table_name(sf_dir, 32)}")
        assert bucketed_events_if_available(spark, sf_dir) is not None
        ex2, srt2, rows2 = shape("tick_features")
        assert (ex2, srt2) == (0, 0) and rows2 == rows0
    finally:
        spark.conf.unset("spark.vectra.bucketed.location")
        from vectra_player_spark.operators.skew import _BUCKETED_EVENTS

        _BUCKETED_EVENTS.clear()
        spark.sql(f"DROP TABLE IF EXISTS {_events_table_name(sf_dir, 32)}")
        shutil.rmtree(root, ignore_errors=True)


def test_layout_write_is_timezone_safe(spark, sf_dir):
    """Round-5 hostile-sweep regression: materializing the events layout
    from a session sitting in a non-UTC zone must not persist shifted
    instants (events' NTZ→LTZ cast is session-tz dependent — the writer
    normalizes via prep_session), and the tables plan cache must not keep
    a stray-zone analysis alive after the session is normalized."""
    import shutil

    from pyspark.sql import functions as F

    from vectra_player_spark.operators.skew import (
        _BUCKETED_EVENTS,
        _events_table_name,
        materialize_bucketed_events_lake,
    )
    from vectra_player_spark.tables import t

    root = f"/tmp/vectra_bucketed_tz_{id(spark)}"
    spark.conf.set("spark.vectra.bucketed.location", root)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        shutil.rmtree(root, ignore_errors=True)
        # UTC truth, read fresh
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        truth = sorted(
            r[0] for r in t(spark, sf_dir, "events").select(F.unix_micros("ts")).collect()
        )
        # hostile zone at write time
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev_b = materialize_bucketed_events_lake(spark, sf_dir)
        got = sorted(r[0] for r in ev_b.select(F.unix_micros("ts")).collect())
        assert got == truth  # writer normalized before persisting
        # the plan cache must be tz-keyed: a non-UTC read must not leak
        # into UTC consumers
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        t(spark, sf_dir, "events").select(F.unix_micros("ts")).collect()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        again = sorted(
            r[0] for r in t(spark, sf_dir, "events").select(F.unix_micros("ts")).collect()
        )
        assert again == truth
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.conf.unset("spark.vectra.bucketed.location")
        _BUCKETED_EVENTS.clear()
        spark.sql(f"DROP TABLE IF EXISTS {_events_table_name(sf_dir, 32)}")
        shutil.rmtree(root, ignore_errors=True)


def test_discovery_refuses_uncommitted_layout(spark, sf_dir):
    """A layout dir whose _SUCCESS marker is missing (writer killed
    mid-job-commit) must read as ABSENT — registering a partially
    committed table would return silently incomplete data."""
    import os as _os
    import shutil

    from vectra_player_spark.operators.skew import (
        _BUCKETED_EVENTS,
        _events_table_name,
        bucketed_events_if_available,
        materialize_bucketed_events_lake,
    )

    root = f"/tmp/vectra_bucketed_succ_{id(spark)}"
    spark.conf.set("spark.vectra.bucketed.location", root)
    try:
        shutil.rmtree(root, ignore_errors=True)
        materialize_bucketed_events_lake(spark, sf_dir)
        assert bucketed_events_if_available(spark, sf_dir) is not None
        _BUCKETED_EVENTS.clear()
        spark.sql(f"DROP TABLE IF EXISTS {_events_table_name(sf_dir, 32)}")
        _os.remove(
            _os.path.join(root, _events_table_name(sf_dir, 32), "_SUCCESS")
        )
        assert bucketed_events_if_available(spark, sf_dir) is None
    finally:
        spark.conf.unset("spark.vectra.bucketed.location")
        _BUCKETED_EVENTS.clear()
        spark.sql(f"DROP TABLE IF EXISTS {_events_table_name(sf_dir, 32)}")
        shutil.rmtree(root, ignore_errors=True)


def test_q21_spine_self_routing(spark, sf_dir):
    """Round-6: q21's entire spine keys on the order key (li⋈orders
    join, per-(order,supp) agg, per-order agg, culprit self-join) — on
    the bucketed pair every one of those orderkey exchanges disappears;
    values identical on both arms."""
    import shutil

    from vectra_player_spark.operators.skew import (
        _BUCKETED_FACTS,
        _fact_table_name,
        materialize_bucketed_facts,
    )
    from vectra_player_spark.plans.queries_tpch_extra import q21_waiting_suppliers

    root = f"/tmp/vectra_bucketed_q21_{id(spark)}"
    spark.conf.set("spark.vectra.bucketed.location", root)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")

    def orderkey_exchanges(df):
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("+- == Initial Plan ==")[0]
        return sum(
            1
            for line in final.splitlines()
            if "Exchange hashpartitioning" in line
            and ("l_orderkey" in line or "o_orderkey" in line or "po_orderkey" in line)
        )

    try:
        shutil.rmtree(root, ignore_errors=True)
        # fresh DataFrame per measurement: a collect() finalizes AQE and
        # the reused query stages stop printing their Exchange lines
        n_plain = orderkey_exchanges(q21_waiting_suppliers(spark, sf_dir))
        plain_rows = sorted(map(tuple, q21_waiting_suppliers(spark, sf_dir).collect()))
        assert n_plain >= 2  # join + aggregates shuffle on the plain arm

        materialize_bucketed_facts(spark, sf_dir)
        assert orderkey_exchanges(q21_waiting_suppliers(spark, sf_dir)) == 0
        routed_rows = sorted(
            map(tuple, q21_waiting_suppliers(spark, sf_dir).collect())
        )
        assert routed_rows == plain_rows
    finally:
        spark.conf.unset("spark.vectra.bucketed.location")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        _BUCKETED_FACTS.clear()
        for name in ("lineitem", "orders"):
            spark.sql(f"DROP TABLE IF EXISTS {_fact_table_name(name, sf_dir, 32)}")
        shutil.rmtree(root, ignore_errors=True)
