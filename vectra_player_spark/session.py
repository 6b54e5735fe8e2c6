"""SparkSession construction tuned for the engine.

Local-mode settings mirror what a cluster deployment would set per-executor:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores (would be ~2-3x total cores on a real cluster),
Arrow enabled for the pandas-UDF path, UTC session timezone so timestamp
semantics match a naive-UTC oracle (DuckDB) and are stable across hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


# Share of physical RAM the driver heap gets when SPARK_DRIVER_MEMORY is
# unset. In local mode the driver JVM is every executor at once; the rest
# is left to the Python workers (Arrow/pandas UDFs) and the OS page cache.
_DRIVER_HEAP_SHARE = 0.5


def _host_driver_memory() -> str:
    """Driver heap as a JVM size string: a fixed share of physical RAM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(ram * _DRIVER_HEAP_SHARE) // (1024 * 1024)}m"


def get_spark(app_name: str = "vectra_player_spark", cpus: int | None = None) -> SparkSession:
    """Tuned session. Sized for the host unless told otherwise: `cpus`, else
    SPARK_GRAFT_CPUS, else the CPUs in this process's affinity mask (also
    the shuffle partition count); heap from SPARK_DRIVER_MEMORY, else a
    fixed share of physical RAM."""
    if cpus is None:
        # the affinity mask, not the machine's core count: a container or
        # taskset pin sees only its own CPUs
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small dims (region/nation/supplier/model tables) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode = driver-only: all executor threads share this heap.
        # Undersizing it turns back-to-back queries into GC storms.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark_warehouse"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource connectors (sources/pyds.py) evaluate supported
        # filters inside the source's read loop.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Streaming state: commit per-batch deltas instead of re-uploading
        # the full RocksDB snapshot every commit. Measured (SCALE.md §Round
        # 5 changelog audit): 1.4-2.6× fewer checkpoint bytes and equal-or-
        # faster commits at 10k-100k keys; recovery replays deltas since
        # the last maintenance-interval snapshot. No effect on batch jobs
        # or the default HDFS state store.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # Bucketed scans may claim their written sort order (needs this
        # legacy-gated conf + one file per bucket): the window-family
        # events layout then feeds Window operators with NO SortExec.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Bound the plan-string renders Spark performs synchronously on the
        # execution thread (SparkListenerSQLExecutionStart and every AQE
        # update each render the FULL physical plan via generateTreeString,
        # UI enabled or not). The composed curation funnels' trees reach
        # 4.5 MB of plan text; driver thread dumps showed 4 of a 4.5 s
        # warm pass inside TreeNode.generateTreeString/SparkPlanInfo
        # (OPTIMIZATION_r11.md). 256 KiB keeps every diagnostic plan this
        # repo asserts on intact (largest test-pinned plan ~66 KB) while
        # capping the per-event render cost. Scale-neutral: the tax is
        # per-query-execution driver overhead, identical on a cluster.
        .config("spark.sql.maxPlanStringLength", str(256 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep_session(spark: SparkSession) -> SparkSession:
    """Idempotent runtime settings applied to an externally-provided session.

    The correctness driver hands us its own SparkSession; timestamp rendering
    must be UTC to line up with the DuckDB oracle's naive-UTC timestamps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # see get_spark: lets the window-family bucketed layout feed Window
    # operators sort-free when the driver's session discovers it
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    # see get_spark: cap the synchronous plan-string renders (the big
    # composed funnels otherwise pay seconds of driver time per run)
    spark.conf.set("spark.sql.maxPlanStringLength", str(256 * 1024))
    return spark


# Persisted-DataFrame lifecycle. Multi-consumer pins (the dedup/rank/vector
# rep-space materializations) are required for plan efficiency, but a bare
# .persist() has no owner: over a full-registry harness run each query
# invocation re-persists and cached relations accumulate until LRU block
# eviction — including the large shingle explosion. pin() registers every
# such persist here; the query registry releases the PREVIOUS query's pins
# when the next query starts (by then its result has been materialized by
# the harness), so at most one query's pins are live at a time.
_TRACKED_PINS: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()`` with centralized lifecycle tracking."""
    df = df.persist()
    _TRACKED_PINS.append(df)
    return df


def pin_mark() -> int:
    """Snapshot of the tracked-pin count — pair with release_new_pins for
    a SCOPED release (streaming foreachBatch: each micro-batch must
    unpersist its own pins or a long-running gate leaks 3 cached
    relations per batch, without touching pins an enclosing batch query
    may hold)."""
    return len(_TRACKED_PINS)


def release_new_pins(mark: int) -> None:
    """Unpersist every pin tracked after ``mark`` (see pin_mark)."""
    while len(_TRACKED_PINS) > mark:
        df = _TRACKED_PINS.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session already stopped
            pass


def release_pins() -> None:
    """Unpersist every tracked pin (called between harness queries)."""
    while _TRACKED_PINS:
        df = _TRACKED_PINS.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session already stopped: the
            # JVM-side cache died with it; nothing to release.
            pass
