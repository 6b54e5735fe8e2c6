"""Canonical schemas: the event envelope and the complete_game document.

Envelope mirrors the reference's explicit 20-column Parquet schema
(src/services/event_store/schema.py:64-89, writer.py:255-278): one wide
flat schema for ALL event kinds, typed extracted columns plus the full
original payload as a JSON string, hive-partitioned by (doc_type, date).

Money stays Decimal-serialized-as-STRING in storage (schema.py:328-332);
queries cast to double at read time (duckdb.py:435-452) — preserved here so
the engine's cast points match the reference's semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import types as T

DOC_TYPES = (
    "ws_event",
    "game_tick",
    "player_action",
    "button_event",
    "bbc_round",
    "candleflip_round",
    "short_position",
    "server_state",
    "system_event",
    "complete_game",
)

SOURCES = ("cdp", "public_ws", "replay", "ui")
DIRECTIONS = ("received", "sent")

# The ONE table (schema.py:64-89 / writer.py:255-278).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.StringType(), False),  # ISO-8601 UTC
        T.StructField("source", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), False),  # partition col
        T.StructField("session_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),  # per-session monotone
        T.StructField("direction", T.StringType(), False),
        T.StructField("raw_json", T.StringType(), False),  # full payload
        T.StructField("game_id", T.StringType(), True),
        T.StructField("player_id", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("event_name", T.StringType(), True),
        T.StructField("price", T.StringType(), True),  # Decimal-as-string
        T.StructField("tick", T.LongType(), True),
        T.StructField("action_type", T.StringType(), True),
        T.StructField("cash", T.StringType(), True),  # Decimal-as-string
        T.StructField("position_qty", T.StringType(), True),  # Decimal-as-string
        T.StructField("button_id", T.StringType(), True),
        T.StructField("button_category", T.StringType(), True),
        T.StructField("sequence_id", T.StringType(), True),
        T.StructField("sequence_position", T.LongType(), True),
    ]
)

# The lake's read schema, declared so opening the lake needs no footer
# scan: the envelope's data columns in envelope order (what each Parquet
# file holds), then the two hive partition columns typed as partition
# inference types them (`date=YYYY-MM-DD` reads as DateType). Nullable
# throughout, as a file source reads every column.
EVENT_LAKE_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in ENVELOPE_SCHEMA.fields
        if f.name != "doc_type"
    ]
    + [
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
    ]
)

# complete_game document schema — the fields analytics actually consume
# (SURVEY §1.3; consumers cited there). Open-world payloads keep unknown
# fields in raw_json; this struct is the typed projection.
SIDEBET_SCHEMA = T.StructType(
    [
        T.StructField("playerId", T.StringType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("betAmount", T.DoubleType(), True),
        T.StructField("xPayout", T.LongType(), True),
        T.StructField("startedAtTick", T.LongType(), True),
        T.StructField("end", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)

PROVABLY_FAIR_SCHEMA = T.StructType(
    [
        T.StructField("serverSeed", T.StringType(), True),
        T.StructField("serverSeedHash", T.StringType(), True),
        T.StructField("version", T.StringType(), True),
    ]
)

COMPLETE_GAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("gameId", T.StringType(), True),  # fallback key (service.py:422-424)
        T.StructField("timestamp", T.LongType(), True),  # epoch ms
        T.StructField("gameVersion", T.StringType(), True),
        T.StructField("rugged", T.BooleanType(), True),
        T.StructField("peakMultiplier", T.DoubleType(), True),
        T.StructField("prices", T.ArrayType(T.DoubleType()), True),
        T.StructField("provablyFair", PROVABLY_FAIR_SCHEMA, True),
        T.StructField("globalSidebets", T.ArrayType(SIDEBET_SCHEMA), True),
    ]
)

# gameStateUpdate live-tick stream schema — minimum fields the streaming
# operators consume (FIXTURES.md §6; game_state_update.py:306-441).
PARTIAL_PRICES_SCHEMA = T.StructType(
    [
        T.StructField("startTick", T.LongType(), True),
        T.StructField("endTick", T.LongType(), True),
        T.StructField("values", T.MapType(T.StringType(), T.DoubleType()), True),
    ]
)

GAME_STATE_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("gameId", T.StringType(), True),
        T.StructField("active", T.BooleanType(), True),
        T.StructField("rugged", T.BooleanType(), True),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("tickCount", T.LongType(), True),
        T.StructField("cooldownTimer", T.LongType(), True),
        T.StructField("allowPreRoundBuys", T.BooleanType(), True),
        T.StructField("provablyFair", PROVABLY_FAIR_SCHEMA, True),
        T.StructField("gameHistory", T.ArrayType(COMPLETE_GAME_SCHEMA), True),
        T.StructField("partialPrices", PARTIAL_PRICES_SCHEMA, True),
    ]
)
