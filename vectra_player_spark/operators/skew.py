"""Skew and co-location levers for 100 TB joins (SURVEY §4 / SCALE.md).

- salted_join: the classic hot-key remedy when AQE's skew-join splitting
  isn't available or the skew is on the BUILD side of an agg: explode the
  small side into `salt_factor` replicas, salt the big side's key with a
  deterministic hash bucket, join on (key, salt). Row-identical to a plain
  inner join.
- write_bucketed / bucketed_table: persist a table bucketed+sorted by the
  episode key so every later join/groupBy on that key is exchange-free
  (the lake-side analog of the reference keeping one file per game).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join tolerant of a skewed `key` on the big side.

    The big side gets a deterministic salt from a row hash (NOT rand() —
    retries/speculative tasks must salt identically); the small side is
    exploded ×salt_factor so every (key, salt) pair finds its match."""
    big_salted = big.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt_factor))
    )
    small_exploded = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)]))
    )
    return big_salted.join(small_exploded, [key, "_salt"], how).drop("_salt")


def salted_aggregate(
    df: DataFrame,
    key: str,
    salt_col: str,
    salt_factor: int = 16,
    value_col: str = "value",
) -> DataFrame:
    """Two-stage hot-key aggregation: partial agg on (key, salt), merge on key.

    For algebraic aggregates Spark's map-side partial agg already spreads a
    hot key; the stage this pattern actually rescues at 100 TB is the
    HOLISTIC agg — exact COUNT(DISTINCT x) on a low-cardinality key, where
    all of a hot key's rows meet in one reducer. Salting by hash(x) keeps
    the distinct state sharded: stage 1 dedups (key, salt)-locally, stage 2
    merges |salt_factor| partial states per key. Row-identical to the
    unsalted aggregation (pinned by oracle in plans/queries_pipeline.py).
    """
    from vectra_player_spark.functions.exact import dec

    salt = F.pmod(F.hash(F.col(salt_col)), F.lit(salt_factor))
    # The value sum accumulates in exact DECIMAL through BOTH stages
    # (functions/exact discipline): the 100× sweep caught the double
    # partial-sum path drifting by shuffle order past the 1e-6 rounding
    # grid at ~1e8 magnitude — order-insensitive decimal adds make the
    # two-stage salted result bit-equal to the one-stage GROUP BY at any
    # volume, which is the property this operator is registered to prove.
    partial = df.groupBy(F.col(key), salt.alias("_salt")).agg(
        F.count("*").alias("_cnt"),
        F.sum(dec(value_col)).alias("_sum"),
        F.max(value_col).alias("_max"),
        F.count_distinct(F.col(salt_col)).alias("_ndv"),
    )
    return partial.groupBy(key).agg(
        F.sum("_cnt").cast("bigint").alias("n_events"),
        F.sum("_sum").cast("double").alias("sum_value"),
        (F.round(F.max("_max"), 6) + 0.0).alias("max_value"),
        # distinct states are disjoint across salt buckets (salt = f(x)),
        # so the merge is a plain SUM of partial NDVs — exact, not approx.
        F.sum("_ndv").cast("bigint").alias("n_users"),
    )


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 32, sort_col: str | None = None
) -> None:
    """Persist bucketed (and optionally sorted) by `key` — later joins and
    groupBys on `key` read pre-shuffled data (no Exchange in the plan)."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def bucketed_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


# (session id, sf_dir, buckets) → ((lineitem_df, orders_df), raw lake
# signature at validation time). The bucketed fact pair is written once
# per session+lake and reused — the registered bucketed queries and the
# bench's best-of-3 must not re-shuffle-and-write per call. The signature
# half is the staleness contract: a memo hit re-checks it (listing-only)
# so a lake that GREW since validation stops routing onto a layout that
# no longer covers it.
_BUCKETED_FACTS: dict[tuple[int, str, int], tuple] = {}

# Negative-discovery memo (round-7 ADVICE): (session id, sf_dir, buckets,
# kind) → (raw lake signature, layout _SUCCESS token) observed when the
# count check found the layout STALE. While BOTH tokens are unchanged the
# verdict cannot have changed either — discovery skips straight to the
# plain scan instead of re-paying two count jobs per query exactly while
# the lake is stale. The layout token is part of the key so a refresh
# from ANOTHER session (which rewrites _SUCCESS) invalidates the memo;
# a refresh in THIS session pops it explicitly. None tokens never match.
_STALE_LAYOUTS: dict[tuple[int, str, int, str], tuple] = {}

# Root directory for the external bucketed layout. Configurable so
# concurrent deployments can point at distinct scratch areas (a
# drop-and-rewrite in one session must not clobber a location another
# live session's memoized DataFrames still read); the default is shared
# on purpose — a SHARED location is what lets a later session DISCOVER a
# layout an earlier one materialized (bucketed_facts_if_available).
BUCKETED_LOCATION_CONF = "spark.vectra.bucketed.location"
_DEFAULT_BUCKETED_ROOT = "/tmp/vectra_bucketed"

_FACT_SPECS = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))


def _bucketed_root(spark: SparkSession) -> str:
    return spark.conf.get(BUCKETED_LOCATION_CONF, None) or _DEFAULT_BUCKETED_ROOT


def _fact_table_name(table: str, sf_dir: str, buckets: int) -> str:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"{table}_by_orderkey_{tag}_{buckets}"


def _events_table_name(sf_dir: str, buckets: int) -> str:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"events_by_user_{tag}_{buckets}"


def _lake_signature(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ("events",)
) -> tuple | None:
    """Cheap freshness token for the RAW lake: (file count, total bytes,
    max mtime) per table, read from the filesystem listing only — no Spark
    job. This is what lets layout discovery notice that the lake grew (a
    new day's partition landed) without paying a row-count scan on every
    query: the signature is captured when a layout validates and compared
    on each later memo hit. At 100 TB a listing is metadata-scale — the
    same status calls every scan's file index already makes."""
    from py4j.protocol import Py4JError

    sig = []
    try:
        for table in tables:
            path = spark._jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{table}.parquet")
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(path):
                return None
            status = fs.getFileStatus(path)
            if status.isFile():
                sig.append((1, status.getLen(), status.getModificationTime()))
                continue
            n, total, mtime = 0, 0, 0
            it = fs.listFiles(path, True)
            while it.hasNext():
                st = it.next()
                name = st.getPath().getName()
                if name.startswith("_") or name.startswith("."):
                    continue  # committer markers don't change the data
                n += 1
                total += st.getLen()
                mtime = max(mtime, st.getModificationTime())
            sig.append((n, total, mtime))
        return tuple(sig)
    except (Py4JError, AttributeError, RuntimeError):
        return None


def _raw_rowcount(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Row count of the RAW table from a FRESH read — bypassing the tables
    plan cache, whose file listing snapshots at first analysis and would
    not see files appended to the lake since (the point of this count is
    exactly to detect that). Parquet COUNT(*) is footer-metadata work."""
    from vectra_player_spark.tables import _read

    return _read(spark, sf_dir, table).count()


def _locations_live(
    spark: SparkSession, sf_dir: str, buckets: int, table_names=None
) -> bool:
    """True iff EVERY layout location exists on the (possibly remote) FS
    AND carries the committer's _SUCCESS marker.

    Probing all tables matters (round-5 ADVICE): if only one dir of a
    multi-table layout was wiped, a single-table probe would return a
    half-dead set that fails mid-job with FileNotFound. Requiring
    _SUCCESS matters for a subtler reason: a writer killed mid-job-commit
    can leave a location with SOME part files visible — discovery trusting
    bare existence would register a silently INCOMPLETE table (wrong
    answers, not an error). The marker only appears after job commit, so
    a half-written layout reads as absent and the caller falls back to
    plain scans / rebuild."""
    from py4j.protocol import Py4JError

    if table_names is None:
        table_names = [_fact_table_name(t, sf_dir, buckets) for t, _ in _FACT_SPECS]
    root = _bucketed_root(spark)
    try:
        for table_name in table_names:
            loc = spark._jvm.org.apache.hadoop.fs.Path(
                f"{root}/{table_name}/_SUCCESS"
            )
            fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
            if not fs.exists(loc):
                return False
        return True
    except (Py4JError, AttributeError, RuntimeError):
        # Py4JError: JVM-side failure on the probe; AttributeError /
        # RuntimeError: stopped context (dead gateway). A dead context
        # means nothing cached is usable — report not-live so callers
        # rebuild or fall back.
        return False


def _layout_success_token(
    spark: SparkSession, table_names: list[str]
) -> tuple | None:
    """Modification times of each layout table's _SUCCESS marker — every
    (re)commit of the layout, including one from ANOTHER session, rewrites
    the marker, so an unchanged token means the layout itself is unchanged.
    None (probe failure / marker absent) must never be treated as a match."""
    from py4j.protocol import Py4JError

    root = _bucketed_root(spark)
    token = []
    try:
        for table_name in table_names:
            p = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/{table_name}/_SUCCESS")
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            token.append(fs.getFileStatus(p).getModificationTime())
        return tuple(token)
    except (Py4JError, AttributeError, RuntimeError):
        return None


def materialize_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Bucket the TPC-H fact pair (lineitem, orders) on the order key so
    their join — the one unavoidable fact-fact sort-merge in the TPC-H
    suite (q9/q18's l_orderkey = o_orderkey) — reads co-located data with
    NO Exchange on either side.

    This generalizes materialize_bucketed_events from the episode lake to
    the relational tables: same bucket COUNT on both tables and the join
    key as the bucket key are what let Spark's bucketed-scan planner drop
    both shuffles (hashpartitioning(orderkey, N) is already satisfied by
    the scan). sortBy(orderkey) + one file per bucket additionally hands
    the sort-merge join its order, removing the per-task SortExec when the
    reading session sets
    spark.sql.legacy.bucketedTableScan.outputOrdering=true (same gating
    as the events lake; see test_skew_bucketing).

    At 100 TB this is a one-time layout cost at ingest amortized over
    every orderkey join; the round-3 q9 audit named it as THE lever for
    the accepted fact-fact join cost (SCALE.md 100x table).

    Reference analog: the reference's physical design co-locates each
    game's rows in one DuckDB file (src/services/event_store/
    duckdb.py:147-238) — free on one node, a write-time layout at lake
    scale.
    """
    from vectra_player_spark.session import prep_session
    from vectra_player_spark.tables import _read

    prep_session(spark)  # normalize tz before reading/persisting (see events)

    key = (id(spark), sf_dir, buckets)
    cached = _BUCKETED_FACTS.get(key)
    if cached is not None:
        # probe liveness: the session may have been stopped and its id()
        # reused, or the external scratch location wiped between runs — a
        # stale hit would fail mid-query with FileNotFound instead. BOTH
        # locations are probed (round-5 ADVICE: an orders-only wipe used
        # to return a half-dead pair). The raw-lake signature must also
        # be unchanged (round-6): a grown lake invalidates the layout. A
        # None signature is UNKNOWN, not unchanged (round-7 ADVICE): a
        # lake whose listing probe fails must never validate a memo —
        # None == None would trust the layout indefinitely.
        pair_cached, sig_cached = cached
        sig_now = _lake_signature(spark, sf_dir, ("lineitem", "orders"))
        if (
            _locations_live(spark, sf_dir, buckets)
            and sig_cached is not None
            and sig_cached == sig_now
        ):
            return pair_cached
        del _BUCKETED_FACTS[key]
    # scope the table name by (lake, bucket count): two callers with
    # different lakes/specs must not drop-and-rewrite each other's tables
    # out from under memoized DataFrames (stale-file task failures)
    root = _bucketed_root(spark)
    pair = []
    for name, bucket_key in _FACT_SPECS:
        table_name = _fact_table_name(name, sf_dir, buckets)
        # EXTERNAL table with an explicit path: the correctness driver
        # hands us ITS session, whose default warehouse dir is
        # ./spark-warehouse under an arbitrary cwd — never write there.
        # An explicit location keeps the layout in the scratch area
        # regardless of session conf (a real deployment would point this
        # at the lake's curated zone — or set
        # spark.vectra.bucketed.location per deployment to avoid sharing
        # the scratch root across concurrent sessions).
        location = f"{root}/{table_name}"
        # The in-memory catalog dies with the session but the location
        # persists — saveAsTable then fails LOCATION_ALREADY_EXISTS on a
        # stale location the new catalog has never heard of. Drop both.
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        loc = spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)
        # FRESH read, not the t() plan cache (round-7 ADVICE high): a
        # cached plan's file listing snapshots at first analysis, so a
        # materialize after the lake grew would bake an INCOMPLETE layout
        # yet memoize it against the fresh signature — discovery would
        # then route onto missing data with no guard left to notice.
        df = _read(spark, sf_dir, name)
        (
            df.repartition(buckets, F.col(bucket_key))
            .sortWithinPartitions(bucket_key)
            .write.mode("overwrite")
            .option("path", location)
            .bucketBy(buckets, bucket_key)
            .sortBy(bucket_key)
            .format("parquet")
            .saveAsTable(table_name)
        )
        layout = spark.table(table_name)
        # belt-and-suspenders before memoizing: the layout must cover the
        # raw table NOW (footer-count jobs — cheap next to the write)
        n_layout, n_raw = layout.count(), _read(spark, sf_dir, name).count()
        if n_layout != n_raw:
            raise RuntimeError(
                f"bucketed layout {table_name} wrote {n_layout} rows but raw "
                f"{name} holds {n_raw} — lake changed mid-build; rerun"
            )
        pair.append(layout)
    result = (pair[0], pair[1])
    _STALE_LAYOUTS.pop(key + ("facts",), None)
    _BUCKETED_FACTS[key] = (
        result,
        _lake_signature(spark, sf_dir, ("lineitem", "orders")),
    )
    return result


def bucketed_facts_if_available(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> tuple[DataFrame, DataFrame] | None:
    """Self-routing discovery (round-5): return the bucketed fact pair if
    the layout already exists, WITHOUT ever building it — the layout write
    is an ingest-time decision (49.7 s at the 100× lake), not something a
    read query should trigger as a side effect.

    Three tiers, cheapest first: the session memo (validated against the
    filesystem AND the raw lake's listing signature), this session's
    catalog, and bare on-disk locations from an EARLIER session — the
    in-memory catalog died with that session, so the external tables are
    re-registered here via CREATE TABLE ... CLUSTERED BY ... LOCATION
    with the schema read back from the parquet footers. (A metastore-
    backed deployment gets this re-registration for free; this function
    is the in-memory-catalog stand-in.)

    Staleness contract (round-6): before a layout is first trusted in a
    session, its row count must EQUAL the raw table's (both are parquet
    footer-count jobs, paid once and then guarded by the listing
    signature). A lake that grew since the layout was written — the
    daily-ingest case — reads as stale: the query falls back to the raw
    scan (correct, just unrouted) until tools/maintain_layouts.py
    refreshes the layout. Returns None when absent, partially present,
    or stale.
    """
    from vectra_player_spark.tables import _read

    key = (id(spark), sf_dir, buckets)
    sig = _lake_signature(spark, sf_dir, ("lineitem", "orders"))
    cached = _BUCKETED_FACTS.get(key)
    if cached is not None:
        pair_cached, sig_cached = cached
        # None signatures are UNKNOWN, never a match (round-7 ADVICE):
        # a persistently failing listing probe must force re-validation
        # via the count check below, not silently trust the layout.
        if (
            _locations_live(spark, sf_dir, buckets)
            and sig is not None
            and sig_cached == sig
        ):
            return pair_cached
        _BUCKETED_FACTS.pop(key, None)
    if not _locations_live(spark, sf_dir, buckets):
        return None
    table_names = [_fact_table_name(t, sf_dir, buckets) for t, _ in _FACT_SPECS]
    token = _layout_success_token(spark, table_names)
    stale_key = key + ("facts",)
    if sig is not None and token is not None and _STALE_LAYOUTS.get(stale_key) == (
        sig,
        token,
    ):
        return None  # known-stale under this exact (lake, layout) state
    root = _bucketed_root(spark)
    pair = []
    for (name, bucket_key), table_name in zip(_FACT_SPECS, table_names):
        if not spark.catalog.tableExists(table_name):
            location = f"{root}/{table_name}"
            # the layout is the raw table rewritten, so its schema is the
            # raw table's; a layout of an empty lake has no footer to infer
            # one from (only _SUCCESS)
            schema_ddl = _read(spark, sf_dir, name).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {table_name} ({schema_ddl}) USING parquet "
                f"CLUSTERED BY ({bucket_key}) SORTED BY ({bucket_key}) "
                f"INTO {buckets} BUCKETS LOCATION '{location}'"
            )
        if spark.table(table_name).count() != _raw_rowcount(spark, sf_dir, name):
            # layout no longer covers the lake — refresh needed. Memoize
            # the NEGATIVE verdict (round-7 ADVICE): while neither the raw
            # listing nor the layout commit changes, later calls skip the
            # two count jobs and go straight to the plain scan.
            if sig is not None and token is not None:
                _STALE_LAYOUTS[stale_key] = (sig, token)
            return None
        pair.append(spark.table(table_name))
    result = (pair[0], pair[1])
    _STALE_LAYOUTS.pop(stale_key, None)
    _BUCKETED_FACTS[key] = (result, sig)
    return result


def max_files_per_bucket(spark: SparkSession, table_name: str) -> int:
    """Fragmentation probe (listing-only): the worst bucket's file count.
    1 = fully compacted (scan claims its sort order); >1 = appends have
    accumulated (Exchange-free but sorted reads). maintain_layouts uses
    this to trigger compaction on a threshold instead of a blind cadence."""
    import re as _re

    location = f"{_bucketed_root(spark)}/{table_name}"
    path = spark._jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return 0
    counts: dict[int, int] = {}
    it = fs.listFiles(path, False)
    while it.hasNext():
        name = it.next().getPath().getName()
        m = _re.search(r"_(\d{5})(?:\.|_)", name)
        if m:
            b = int(m.group(1))
            counts[b] = counts.get(b, 0) + 1
    return max(counts.values(), default=0)


def _ensure_fact_table_registered(
    spark: SparkSession, table_name: str, bucket_key: str, buckets: int
) -> None:
    """Facts analog of _ensure_events_table_registered."""
    if not spark.catalog.tableExists(table_name):
        location = f"{_bucketed_root(spark)}/{table_name}"
        schema_ddl = spark.read.parquet(location).schema.toDDL()
        spark.sql(
            f"CREATE TABLE {table_name} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY ({bucket_key}) SORTED BY ({bucket_key}) "
            f"INTO {buckets} BUCKETS LOCATION '{location}'"
        )


def refresh_bucketed_facts_layout(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> dict:
    """Incremental maintenance for the orderkey fact pair — the same
    watermark-append contract as refresh_bucketed_events_layout, applied
    per table: new orders/lineitems arrive with HIGHER order keys (the
    TPC-H order lifecycle and the reference's per-date append cadence),
    so rows above each layout's MAX(orderkey) shuffle delta-sized into
    appended per-bucket files. Appended buckets (>1 file) keep the
    hashpartitioning claim — the q9/q18 fact-fact SMJ stays
    Exchange-free — and lose only the scan's sort claim until
    compact_bucketed_facts_layout restores it. A count mismatch after
    the append (history mutated below the watermark) falls back to the
    wholesale rebuild from raw. Returns per-table modes."""
    from vectra_player_spark.session import prep_session
    from vectra_player_spark.tables import _read, invalidate_lake

    prep_session(spark)
    # Invalidate BEFORE any read or build (round-7 ADVICE high): refresh
    # runs precisely because the lake may have grown, and every cached
    # plan's file listing snapshots at first analysis — a build through a
    # stale plan would bake an incomplete layout yet memoize it fresh.
    invalidate_lake(sf_dir)
    _STALE_LAYOUTS.pop((id(spark), sf_dir, buckets, "facts"), None)
    table_names = [_fact_table_name(t, sf_dir, buckets) for t, _ in _FACT_SPECS]
    if not _locations_live(spark, sf_dir, buckets, table_names):
        materialize_bucketed_facts(spark, sf_dir, buckets)
        return {"mode": "built", "delta_rows": None}
    total_delta, rebuilt = 0, False
    for (raw_name, bucket_key), table_name in zip(_FACT_SPECS, table_names):
        _ensure_fact_table_registered(spark, table_name, bucket_key, buckets)
        raw = _read(spark, sf_dir, raw_name)
        wm = spark.table(table_name).agg(F.max(bucket_key)).collect()[0][0]
        delta = raw.where(F.col(bucket_key) > wm) if wm is not None else raw
        n_delta = delta.count()
        if n_delta:
            (
                delta.repartition(buckets, F.col(bucket_key))
                .sortWithinPartitions(bucket_key)
                .write.mode("append")
                .bucketBy(buckets, bucket_key)
                .sortBy(bucket_key)
                .format("parquet")
                .saveAsTable(table_name)
            )
            spark.catalog.refreshTable(table_name)
            total_delta += n_delta
        if spark.table(table_name).count() != raw.count():
            rebuilt = True
    if rebuilt:
        materialize_bucketed_facts(spark, sf_dir, buckets)
        mode = "rebuilt"
    else:
        mode = "appended" if total_delta else "noop"
    invalidate_lake(sf_dir)
    _BUCKETED_FACTS[(id(spark), sf_dir, buckets)] = (
        tuple(spark.table(n) for n in table_names),
        _lake_signature(spark, sf_dir, ("lineitem", "orders")),
    )
    frag = max(max_files_per_bucket(spark, n) for n in table_names)
    return {"mode": mode, "delta_rows": total_delta, "max_files_per_bucket": frag}


def _compact_bucketed_table(
    spark: SparkSession,
    table_name: str,
    bucket_key: str,
    sort_cols: tuple[str, ...],
    buckets: int,
) -> None:
    """Rewrite one bucketed table to ONE file per bucket via a side
    location + drop-rename-reregister swap (crash analysis in
    compact_bucketed_events_layout's docstring). The bucketed scan is
    forced on so each task holds exactly one bucket and the writer emits
    one file per bucket with no Exchange."""
    root = _bucketed_root(spark)
    location = f"{root}/{table_name}"
    tmp_table = f"{table_name}_compact"
    tmp_location = f"{root}/{tmp_table}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    fs_path = spark._jvm.org.apache.hadoop.fs.Path(tmp_location)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(fs_path):
        fs.delete(fs_path, True)
    auto = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", None
    )
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        (
            spark.table(table_name)
            .write.mode("overwrite")
            .option("path", tmp_location)
            .bucketBy(buckets, bucket_key)
            .sortBy(*sort_cols)
            .format("parquet")
            .saveAsTable(tmp_table)
        )
    finally:
        if auto is None:
            spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        else:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", auto
            )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    old_path = spark._jvm.org.apache.hadoop.fs.Path(location)
    fs.delete(old_path, True)
    fs.rename(fs_path, old_path)


def compact_bucketed_facts_layout(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> dict:
    """One-file-per-bucket compaction for both fact tables (restores the
    SMJ's sort-free scan claim that appends forfeit)."""
    from vectra_player_spark.session import prep_session

    prep_session(spark)
    table_names = [_fact_table_name(t, sf_dir, buckets) for t, _ in _FACT_SPECS]
    if not _locations_live(spark, sf_dir, buckets, table_names):
        return {"mode": "absent"}
    for (raw_name, bucket_key), table_name in zip(_FACT_SPECS, table_names):
        _ensure_fact_table_registered(spark, table_name, bucket_key, buckets)
        _compact_bucketed_table(spark, table_name, bucket_key, (bucket_key,), buckets)
        _ensure_fact_table_registered(spark, table_name, bucket_key, buckets)
    _STALE_LAYOUTS.pop((id(spark), sf_dir, buckets, "facts"), None)
    _BUCKETED_FACTS[(id(spark), sf_dir, buckets)] = (
        tuple(spark.table(n) for n in table_names),
        _lake_signature(spark, sf_dir, ("lineitem", "orders")),
    )
    return {"mode": "compacted"}


def materialize_bucketed_events(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "events_by_user",
    buckets: int = 32,
) -> DataFrame:
    """Bucket the event lake by its episode key (user_id) so EVERY
    per-episode access pattern — episode fetch joins, per-user windows
    (tick_features' shape), per-user aggregates — reads pre-shuffled,
    pre-sorted data with no Exchange in the plan.

    This is the lake-side analog of the reference keeping one DuckDB
    file/ORDER BY per game (duckdb.py:147-238): there the co-location is
    free because everything is one file on one node; at 100 TB the same
    property has to be baked into the table layout once at write time and
    amortized over every downstream episode query. sortBy(user_id, ts,
    event_id) additionally hands windows their within-bucket order — the
    canonical episode order with its deterministic tiebreak. With one file
    per bucket AND spark.sql.legacy.bucketedTableScan.outputOrdering=true
    on the READING session (Spark gates the scan's sort claim behind that
    conf because it needs a listing check) the window's SortExec disappears
    too (pinned in tests/test_skew_bucketing.py).

    Returns the bucketed table's DataFrame.
    """
    from vectra_player_spark.tables import _read

    ev = _read(spark, sf_dir, "events")  # fresh listing — never a cached plan
    # one file per bucket => FileSourceScanExec reports both partitioning
    # AND ordering (multi-file buckets lose the ordering claim)
    writer = (
        ev.repartition(buckets, F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .write.mode("overwrite")
        .bucketBy(buckets, "user_id")
        .sortBy("user_id", "ts", "event_id")
    )
    writer.format("parquet").saveAsTable(table_name)
    return spark.table(table_name)


# (session id, sf_dir, buckets) → (bucketed events DataFrame, raw lake
# signature at validation time). Same memo + staleness discipline as
# _BUCKETED_FACTS.
_BUCKETED_EVENTS: dict[tuple[int, str, int], tuple] = {}


def materialize_bucketed_events_lake(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> DataFrame:
    """The WINDOW-FAMILY events layout: bucketed by the episode key
    (user_id) and sorted by (user_id, event_id) — exactly the
    partitionBy/orderBy spec every per-episode window query uses
    (tick_features, feature_matrix, ewma_features, momentum, ...). A
    bucketed scan then satisfies the Window's ClusteredDistribution with
    NO Exchange; with one file per bucket and
    spark.sql.legacy.bucketedTableScan.outputOrdering=true (set by
    get_spark/prep_session) the scan's sort claim removes the per-task
    SortExec too — the whole window pipeline runs straight off the scan.

    At 100 TB this converts EVERY window query's full-table shuffle into
    a one-time ingest layout — the same economics as the orderkey fact
    pair (SCALE.md §bucketed facts), applied to the engine's hottest
    query family. Distinct from `materialize_bucketed_events` (the
    episode-access layout sorted by (user_id, ts, event_id)): the window
    family orders by event_id, and the scan's sort claim must match the
    window spec EXACTLY to drop the sort.

    External-location scheme, memo, and discovery mirror the fact pair;
    see `bucketed_events_if_available` for the read side.
    """
    from vectra_player_spark.session import prep_session
    from vectra_player_spark.tables import _read

    # The layout write PERSISTS ts instants; normalize the session first
    # (UTC, same contract every registered query gets via the registry
    # wrapper) — events' NTZ→LTZ cast is session-timezone dependent, and a
    # layout written under a stray zone would feed every later session
    # 5-hour-shifted timestamps (round-5 hostile-sweep finding).
    prep_session(spark)

    key = (id(spark), sf_dir, buckets)
    cached = _BUCKETED_EVENTS.get(key)
    table_name = _events_table_name(sf_dir, buckets)
    if cached is not None:
        df_cached, sig_cached = cached
        sig_now = _lake_signature(spark, sf_dir)
        # None = unknown, never a match (round-7 ADVICE) — see facts memo
        if (
            _locations_live(spark, sf_dir, buckets, [table_name])
            and sig_cached is not None
            and sig_cached == sig_now
        ):
            return df_cached
        del _BUCKETED_EVENTS[key]
    root = _bucketed_root(spark)
    location = f"{root}/{table_name}"
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    loc = spark._jvm.org.apache.hadoop.fs.Path(location)
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    # FRESH read, not the t() plan cache (round-7 ADVICE high): a cached
    # listing would bake a layout missing any files the lake grew since
    # first analysis, then memoize it against the fresh signature.
    ev = _read(spark, sf_dir, "events")
    (
        ev.repartition(buckets, F.col("user_id"))  # one file per bucket
        .sortWithinPartitions("user_id", "event_id")
        .write.mode("overwrite")
        .option("path", location)
        .bucketBy(buckets, "user_id")
        .sortBy("user_id", "event_id")
        .format("parquet")
        .saveAsTable(table_name)
    )
    out = spark.table(table_name)
    n_layout, n_raw = out.count(), _read(spark, sf_dir, "events").count()
    if n_layout != n_raw:
        raise RuntimeError(
            f"bucketed layout {table_name} wrote {n_layout} rows but raw "
            f"events holds {n_raw} — lake changed mid-build; rerun"
        )
    _STALE_LAYOUTS.pop(key + ("events",), None)
    _BUCKETED_EVENTS[key] = (out, _lake_signature(spark, sf_dir))
    return out


def _ensure_events_table_registered(
    spark: SparkSession, table_name: str, buckets: int
) -> None:
    """Re-register the external events layout in THIS session's catalog
    from its on-disk location (the in-memory catalog dies with each
    session; a metastore deployment gets this for free)."""
    if not spark.catalog.tableExists(table_name):
        location = f"{_bucketed_root(spark)}/{table_name}"
        schema_ddl = spark.read.parquet(location).schema.toDDL()
        spark.sql(
            f"CREATE TABLE {table_name} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY (user_id) SORTED BY (user_id, event_id) "
            f"INTO {buckets} BUCKETS LOCATION '{location}'"
        )


def bucketed_events_if_available(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> DataFrame | None:
    """Self-routing discovery for the window-family events layout — the
    events analog of `bucketed_facts_if_available` (memo → catalog →
    on-disk re-registration; never builds the layout as a read side
    effect). Staleness contract (round-6): the layout is only trusted if
    its row count equals the raw table's (checked once per session, then
    guarded by the raw lake's listing signature on every memo hit) — a
    lake that grew a new day since the layout was written routes back to
    the plain scan until refresh_bucketed_events_layout catches the
    layout up. Returns None when absent, uncommitted, or stale."""
    key = (id(spark), sf_dir, buckets)
    table_name = _events_table_name(sf_dir, buckets)
    sig = _lake_signature(spark, sf_dir)
    cached = _BUCKETED_EVENTS.get(key)
    if cached is not None:
        df_cached, sig_cached = cached
        # None = unknown, never a match (round-7 ADVICE): a failing
        # listing probe forces re-validation via the count check below.
        if (
            _locations_live(spark, sf_dir, buckets, [table_name])
            and sig is not None
            and sig_cached == sig
        ):
            return df_cached
        _BUCKETED_EVENTS.pop(key, None)
    if not _locations_live(spark, sf_dir, buckets, [table_name]):
        return None
    token = _layout_success_token(spark, [table_name])
    stale_key = key + ("events",)
    if sig is not None and token is not None and _STALE_LAYOUTS.get(stale_key) == (
        sig,
        token,
    ):
        return None  # known-stale under this exact (lake, layout) state
    _ensure_events_table_registered(spark, table_name, buckets)
    out = spark.table(table_name)
    if out.count() != _raw_rowcount(spark, sf_dir, "events"):
        # memoize the negative verdict (round-7 ADVICE): repeat discovery
        # calls while the lake is stale skip straight to the plain scan
        # instead of re-paying both count jobs per query.
        if sig is not None and token is not None:
            _STALE_LAYOUTS[stale_key] = (sig, token)
        return None
    _STALE_LAYOUTS.pop(stale_key, None)
    _BUCKETED_EVENTS[key] = (out, sig)
    return out


def refresh_bucketed_events_layout(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> dict:
    """Incremental layout maintenance (round-6): absorb the lake's NEW
    rows into the window-family bucketed layout without rewriting
    history — the daily-ingest cadence the reference's writer follows
    (per-date append files, services/recording/src/storage.py:150-175).

    Mechanism: the layout's MAX(event_id) is the append watermark (the
    event lake is append-only with monotone event ids — the reference's
    recorder assigns them in arrival order); rows above it shuffle ONCE
    (delta-sized, not lake-sized) into per-bucket files appended to the
    existing table. Spark's bucketed scan then unions files per bucket:
    the hashpartitioning claim survives (window/join queries stay
    Exchange-free), while the per-bucket SORT claim is dropped by Spark
    itself whenever a bucket has >1 file — appended layouts degrade to
    exchange-free-with-sort, never to wrong answers. A periodic
    compact_bucketed_events_layout restores the one-file-per-bucket sort
    claim.

    Self-defense: if after the append the layout's row count still
    differs from the raw table's, history below the watermark was
    mutated (not an append-only lake) — the tool falls back to a FULL
    rebuild from raw, which is always correct because the raw lake is
    the source of truth. Returns a stats dict with the mode taken
    ('built' | 'noop' | 'appended' | 'rebuilt') and delta row count."""
    from vectra_player_spark.session import prep_session
    from vectra_player_spark.tables import _read, invalidate_lake

    prep_session(spark)
    # Invalidate BEFORE any read or build (round-7 ADVICE high): the
    # 'built' path below must not materialize through a cached listing
    # that predates the very files this refresh exists to absorb.
    invalidate_lake(sf_dir)
    _STALE_LAYOUTS.pop((id(spark), sf_dir, buckets, "events"), None)
    table_name = _events_table_name(sf_dir, buckets)
    if not _locations_live(spark, sf_dir, buckets, [table_name]):
        materialize_bucketed_events_lake(spark, sf_dir, buckets)
        return {"mode": "built", "delta_rows": None}
    _ensure_events_table_registered(spark, table_name, buckets)
    # fresh raw read: the plan-cache's file listing snapshots at first
    # analysis and would hide the very files this refresh exists to absorb
    raw = _read(spark, sf_dir, "events")
    wm = spark.table(table_name).agg(F.max("event_id")).collect()[0][0]
    delta = raw.where(F.col("event_id") > wm) if wm is not None else raw
    n_delta = delta.count()
    if n_delta:
        (
            delta.repartition(buckets, F.col("user_id"))
            .sortWithinPartitions("user_id", "event_id")
            .write.mode("append")
            .bucketBy(buckets, "user_id")
            .sortBy("user_id", "event_id")
            .format("parquet")
            .saveAsTable(table_name)
        )
        spark.catalog.refreshTable(table_name)
    mode = "appended" if n_delta else "noop"
    if spark.table(table_name).count() != raw.count():
        # history below the watermark changed — rebuild from truth
        materialize_bucketed_events_lake(spark, sf_dir, buckets)
        mode = "rebuilt"
    # downstream readers must see the refreshed lake: invalidate the
    # analysis-time plan cache and re-memoize against the new signature
    invalidate_lake(sf_dir)
    _BUCKETED_EVENTS[(id(spark), sf_dir, buckets)] = (
        spark.table(table_name),
        _lake_signature(spark, sf_dir),
    )
    return {
        "mode": mode,
        "delta_rows": n_delta,
        "max_files_per_bucket": max_files_per_bucket(spark, table_name),
    }


def compact_bucketed_events_layout(
    spark: SparkSession, sf_dir: str, buckets: int = 32
) -> dict:
    """Rewrite the (possibly append-fragmented) events layout back to ONE
    file per bucket, restoring the bucketed scan's sort claim that
    appends forfeit (Spark only advertises per-bucket order for
    single-file buckets).

    Cost shape vs a full rebuild: the source is the layout itself, whose
    bucketed scan is already hash-clustered on user_id — the rewrite is
    a per-bucket read-sort-write with NO Exchange (the V1 bucketed
    writer sorts within each task and each task holds exactly one
    bucket), vs the rebuild's full-lake shuffle. Swap protocol: write to
    a side location, then drop-rename-reregister. A crash between the
    renames leaves the canonical location absent, which discovery
    already treats as no-layout (falls back to the raw scan — the lake
    remains the source of truth and a rerun of maintain_layouts rebuilds
    cleanly); it can never serve a half-swapped table because discovery
    requires the committer's _SUCCESS under the canonical path."""
    from vectra_player_spark.session import prep_session

    prep_session(spark)
    table_name = _events_table_name(sf_dir, buckets)
    if not _locations_live(spark, sf_dir, buckets, [table_name]):
        return {"mode": "absent"}
    _ensure_events_table_registered(spark, table_name, buckets)
    _compact_bucketed_table(
        spark, table_name, "user_id", ("user_id", "event_id"), buckets
    )
    _ensure_events_table_registered(spark, table_name, buckets)
    _STALE_LAYOUTS.pop((id(spark), sf_dir, buckets, "events"), None)
    _BUCKETED_EVENTS[(id(spark), sf_dir, buckets)] = (
        spark.table(table_name),
        _lake_signature(spark, sf_dir),
    )
    return {"mode": "compacted"}
