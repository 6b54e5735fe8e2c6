"""Streaming jobs: source → envelope → sinks (T5, T6, T9, T11, S5, S10).

The reference's live chain (service.py / sanitizer.py) as Structured
Streaming queries. Sources are file streams (JSONL directories) or a TCP
socket standing in for the WebSocket feed; Kafka records enter through
kafka_frames_bridge. Every transformation below is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectra_player_spark.streaming.stateful import TICK_SCHEMA


def read_tick_stream(spark: SparkSession, path: str) -> DataFrame:
    """S10 stand-in: stream of parsed gameStateUpdate rows from JSONL."""
    return spark.readStream.schema(TICK_SCHEMA).json(path)


def read_raw_frames(
    spark: SparkSession,
    source: str = "files",
    path: str | None = None,
    host: str | None = None,
    port: int | None = None,
) -> DataFrame:
    """S10 reader family: raw Socket.IO frame streams from a JSONL/text
    directory (``"files"``) or a TCP socket (``"socket"``). Both yield one
    `frame` string column; parse_tick_frames turns it into TICK_SCHEMA
    rows — the substitution the reference performs at its CDP-interceptor
    boundary (src/sources/cdp_websocket_interceptor.py feeding
    socketio_parser). Kafka records enter through kafka_frames_bridge."""
    if source == "files":
        return spark.readStream.text(path).select(F.col("value").alias("frame"))
    if source == "socket":
        return (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", int(port))
            .load()
            .select(F.col("value").alias("frame"))
        )
    raise ValueError(f"unknown source {source!r} (files|socket)")


def kafka_frames_bridge(records: DataFrame) -> DataFrame:
    """Kafka-record → frame projection over any DataFrame with Kafka's
    reader output schema (key/value binary, topic, partition, offset,
    timestamp, timestampType) — e.g. ``spark.readStream.format("kafka")
    ...load()`` where the connector is on the classpath, or recorded
    records. Offset→seq and log-append-time→ts_ms supply the ordering
    metadata the parse chain uses for backfill alignment."""
    return records.select(
        F.col("value").cast("string").alias("frame"),
        F.col("offset").alias("seq"),
        F.unix_millis("timestamp").alias("ts_ms"),
    )


def parse_tick_frames(raw: DataFrame, session_id: str = "live") -> DataFrame:
    """F10→T* bridge: raw frames → parsed gameStateUpdate TICK_SCHEMA rows.

    The parse chain (Arrow-batched Socket.IO decode, event filter, typed
    JSON projection, partialPrices flattening) is transport-agnostic: a
    reader only has to supply `frame`. Ordering metadata: Kafka's
    offset/timestamp pass through as seq/ts_ms. Frames without transport
    metadata (socket, files) get seq = tickCount and ts_ms = batch ingest
    time. That is NOT the reference's order (it stamps an arrival seq at
    the interceptor): tickCount restarts at 0 in every game, so when one
    micro-batch holds several games their ticks interleave under the
    per-batch seq sort of phase_machine/sessionize_games, and gap signals
    read wall-clock ingest time. Known fault, open."""
    from vectra_player_spark.schema import GAME_STATE_UPDATE_SCHEMA
    from vectra_player_spark.sources.socketio import parse_frames_udf

    has_seq = "seq" in raw.columns
    has_ts = "ts_ms" in raw.columns
    parsed = raw.withColumn("p", parse_frames_udf("frame"))
    ticks = parsed.where(F.col("p.event_name") == "gameStateUpdate").withColumn(
        "d", F.from_json(F.col("p.data_json"), GAME_STATE_UPDATE_SCHEMA)
    )
    # partialPrices carries {tick-as-string: price}; sort entries by the
    # numeric tick so backfill arrays align deterministically.
    bf = F.expr(
        "array_sort(transform(map_entries(d.partialPrices.values), "
        "e -> struct(CAST(e.key AS BIGINT) AS t, e.value AS p)))"
    )
    return ticks.select(
        F.lit(session_id).alias("session_id"),
        (F.col("seq") if has_seq else F.col("d.tickCount")).cast("long").alias("seq"),
        (
            F.col("ts_ms")
            if has_ts
            else F.unix_millis(F.current_timestamp())
        ).cast("long").alias("ts_ms"),
        F.col("d.gameId").alias("game_id"),
        F.col("d.active").alias("active"),
        F.col("d.rugged").alias("rugged"),
        F.col("d.allowPreRoundBuys").alias("allow_pre_round_buys"),
        F.col("d.cooldownTimer").alias("cooldown_timer"),
        F.col("d.price").alias("price"),
        F.col("d.tickCount").alias("tick"),
        F.col("d.provablyFair.serverSeed").alias("server_seed"),
        bf.getField("t").alias("backfill_ticks"),
        bf.getField("p").alias("backfill_prices"),
    )


def stream_to_lake(
    env_stream: DataFrame, out_path: str, checkpoint: str, trigger_seconds: int = 5
):
    """T9/S5: partitioned parquet sink with the reference's 5 s flush
    cadence (writer.py:102-160 buffer → trigger interval)."""
    return (
        env_stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("doc_type", "date")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
        .start()
    )


def dedup_within_watermark(stream: DataFrame, key: str, ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """T5/D3: streaming dedup — the reference's seen-game_id LRU set
    (recording/src/dedup.py:16-138) becomes watermark-bounded keyed state."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def channel_split(stream: DataFrame) -> dict[str, DataFrame]:
    """T6: typed channel fan-out (sanitizer.py:108-213) — one input stream,
    multiple filtered views; each can drive its own sink (or write all in
    one foreachBatch for a single pass)."""
    game = stream.where(F.col("active") | F.col("rugged")).select(
        "session_id", "seq", "ts_ms", "game_id", "price", "tick"
    )
    stats = stream.select(
        "session_id", "seq", "ts_ms", "game_id", "active", "rugged", "cooldown_timer"
    )
    history = stream.where(F.col("rugged")).select(
        "session_id", "seq", "ts_ms", "game_id", "server_seed"
    )
    return {"GAME": game, "STATS": stats, "HISTORY": history, "ALL": stream}


def windowed_event_rates(stream: DataFrame, window: str = "1 second") -> DataFrame:
    """T11: tumbling event-rate buckets with watermark-bounded state."""
    with_ts = stream.withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    return (
        with_ts.withWatermark("event_time", "10 seconds")
        .groupBy(F.window("event_time", window).alias("w"), "game_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "game_id", "n")
    )


def annotate_trades_stream(
    actions: DataFrame,
    ticks: DataFrame,
    tolerance_seconds: int = 5,
    watermark: str = "30 seconds",
) -> DataFrame:
    """T7 live form: stream-stream interval join — each trade action picks
    up the tick-stream price observed within `tolerance_seconds` BEFORE it
    (the reference annotates trades against the most recent sanitized tick,
    rugs-sanitizer/src/trade_annotator.py:17-101; live it has both feeds in
    flight at once, which in Spark is exactly a watermarked stream-stream
    join).

    Both inputs need an `event_time` timestamp column. The equi-key
    (game_id) plus the bounded time-range condition lets Spark size the
    join state from the watermarks and evict eagerly — state stays
    O(rate × tolerance) per game regardless of stream length, which is
    what makes this safe on an unbounded feed. A trade may match several
    ticks inside the tolerance; keep the latest downstream with a
    max_by/group pass if single-row output is needed (deterministic,
    unlike relying on emission order).
    """
    t = ticks.select(
        F.col("game_id").alias("t_game_id"),
        F.col("event_time").alias("tick_time"),
        "price",
        "tick",
    ).withWatermark("tick_time", watermark)
    a = actions.withWatermark("event_time", watermark)
    cond = (
        (a.game_id == t.t_game_id)
        & (t.tick_time <= a.event_time)
        & (t.tick_time >= a.event_time - F.expr(f"INTERVAL {tolerance_seconds} SECONDS"))
    )
    return a.join(t, cond, "inner").drop("t_game_id")


def annotate_trades(actions: DataFrame, phases: DataFrame) -> DataFrame:
    """T7: trade annotation — join player actions to the phase-stamped
    stream; sells during RUGGED are forced sells
    (rugs-sanitizer/src/trade_annotator.py:17-101)."""
    return actions.join(
        phases.select("session_id", "seq", "phase"), ["session_id", "seq"], "left"
    ).withColumn(
        "is_forced_sell",
        (F.col("action_type") == "sell") & (F.col("phase") == "RUGGED"),
    )


def enrich_stream_with_dim(
    stream: DataFrame,
    dim_path: str,
    key: str,
    out_path: str,
    checkpoint: str,
):
    """Stream-static enrichment against a SLOWLY-CHANGING dimension.

    A naive ``stream.join(spark.read.parquet(dim_path), ...)`` pins the
    static side's file listing at PLAN time — dimension updates written
    after the stream starts are silently ignored (or crash the batch if
    the old files were rewritten). The production pattern is foreachBatch
    with a FRESH read per micro-batch: each batch joins against the
    dimension's current snapshot (SCD1 semantics; point the path at an
    SCD2 current-version view for full history), and the small dim side
    broadcasts so the stream batch never shuffles.
    """

    def _enrich(batch: DataFrame, _batch_id: int) -> None:
        dim = batch.sparkSession.read.parquet(dim_path)
        batch.join(F.broadcast(dim), key, "left").write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
