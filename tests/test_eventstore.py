"""Event-lake + EventStore tests, patterned on the reference's own fixtures
(test_duckdb.py:25-150 via FIXTURES.md §1): 3 games with {10,5,3} ticks of
linearly increasing prices, 2 players, plus duplicated complete_game docs
for dedup checks."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from vectra_player_spark.eventstore import EventStore, explode_sidebets, load_games
from vectra_player_spark.sources.event_lake import (
    normalize_envelope,
    read_event_lake,
    write_event_lake,
)

GAMES = {"g1": (10, 1.0, 0.1), "g2": (5, 2.0, 0.2), "g3": (3, 3.0, 0.3)}
PLAYERS = {"g1": "player-alice", "g2": "player-bob", "g3": "player-alice"}


def _fixture_rows():
    rows = []
    seq = 0
    for gid, (n, base, step) in GAMES.items():
        for t in range(n):
            seq += 1
            rows.append(
                {
                    "ts": f"2026-01-10T00:{seq:02d}:00+00:00",
                    "source": "cdp",
                    "doc_type": "game_tick",
                    "session_id": "sess-1",
                    "seq": seq,
                    "direction": "received",
                    "raw_json": "{}",
                    "game_id": gid,
                    "player_id": None,
                    "price": str(round(base + step * t, 4)),
                    "tick": t,
                }
            )
    for gid, pid in PLAYERS.items():
        seq += 1
        rows.append(
            {
                "ts": f"2026-01-10T01:{seq:02d}:00+00:00",
                "source": "cdp",
                "doc_type": "player_action",
                "session_id": "sess-1",
                "seq": seq,
                "direction": "received",
                "raw_json": "{}",
                "game_id": gid,
                "player_id": pid,
                "action_type": "buy",
            }
        )
    # complete_game docs with duplication: g1 emitted 3x with differing
    # price-array lengths (best-row dedup must prefer the longest).
    game_doc = {
        "id": "g1",
        "timestamp": 1767916800000,
        "gameVersion": "v3",
        "rugged": True,
        "peakMultiplier": 1.9,
        "prices": [1.0, 1.5, 1.9, 0.02],
        "provablyFair": {"serverSeedHash": "h1", "version": "v1"},
        "globalSidebets": [
            {
                "playerId": "did:p:alice",
                "username": "alice",
                "betAmount": 0.005,
                "xPayout": 5,
                "startedAtTick": 1,
                "end": 3,
                "type": "placed",
            }
        ],
    }
    for i, n_prices in enumerate((2, 4, 3)):
        doc = dict(game_doc, prices=game_doc["prices"][:n_prices])
        seq += 1
        rows.append(
            {
                "ts": f"2026-01-10T02:{seq:02d}:00+00:00",
                "source": "cdp",
                "doc_type": "complete_game",
                "session_id": "sess-1",
                "seq": seq,
                "direction": "received",
                "raw_json": json.dumps(doc),
                "game_id": "g1",
            }
        )
    return rows


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "events_parquet")
    raw = spark.createDataFrame(_fixture_rows())
    env = normalize_envelope(raw)
    write_event_lake(env, path)
    return path


def test_partition_layout_and_pruning(spark, lake):
    import os

    assert os.path.isdir(f"{lake}/doc_type=game_tick/date=2026-01-10")
    df = read_event_lake(spark, lake, doc_type="game_tick")
    assert df.count() == 18
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "doc_type" in plan  # partition filter present, not a full scan


def test_episode_and_qualifying(spark, lake):
    es = EventStore(read_event_lake(spark, lake))
    ep = es.game_episode("g1").where(F.col("doc_type") == "game_tick")
    prices = [r.price for r in ep.select("price").collect()]
    assert prices == [str(round(1.0 + 0.1 * t, 4)) for t in range(10)]
    qual = {r.game_id: r.tick_count for r in es.qualifying_games(5).collect()}
    assert qual == {"g1": 10, "g2": 5}


def test_player_semi_join(spark, lake):
    es = EventStore(read_event_lake(spark, lake))
    games = {
        r.game_id
        for r in es.player_events("player-alice").select("game_id").distinct().collect()
    }
    assert games == {"g1", "g3"}


def test_tick_features_known_values(spark, lake):
    es = EventStore(read_event_lake(spark, lake))
    feats = es.tick_features().where(F.col("game_id") == "g1").orderBy("seq").collect()
    assert feats[0].price_change is None  # LAG null on first row
    assert abs(feats[1].price_change - 0.1) < 1e-9
    assert feats[-1].drawdown == 0.0  # monotone series never draws down
    assert abs(feats[4].volatility_5 - 0.158114) < 1e-6  # std of 5-tick ramp


def test_load_games_best_row_dedup(spark, lake):
    games = load_games(read_event_lake(spark, lake))
    rows = games.collect()
    assert len(rows) == 1  # 3 duplicate emissions -> 1
    g = rows[0]
    assert g.duration_ticks == 4  # longest price array won
    assert g.final_price == 0.02
    assert g.rug_tick == 3  # biggest drop 1.9 -> 0.02 at index 3
    assert g.is_unplayable


def test_explode_sidebets_labels(spark, lake):
    games = load_games(read_event_lake(spark, lake))
    bets = explode_sidebets(games).collect()
    assert len(bets) == 1
    b = bets[0]
    assert b.player_id == "did:p:alice"
    assert not b.bet_won  # duration 4 outside the explicit (1, 3] window
    assert b.ticks_to_rug == 3
    assert not b.bet_in_optimal_zone


def test_open_lake_starts_no_spark_job(spark, lake):
    """Opening the lake reads no file footer: the declared schema replaces
    inference, so no job runs until a query does. A footer-merging read in
    a second group is the control: once its job shows in the status
    tracker, every job the first group could have started shows too (the
    listener bus delivers events in order)."""
    import time

    sc = spark.sparkContext
    try:
        sc.setJobGroup("open_event_lake", "read_event_lake")
        read_event_lake(spark, lake)
        sc.setJobGroup("open_merge_schema", "mergeSchema control")
        spark.read.option("mergeSchema", "true").parquet(lake)
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("open_merge_schema") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("open_merge_schema")
    assert tracker.getJobIdsForGroup("open_event_lake") == []


def test_declared_schema_matches_inference(spark, lake):
    """Column names, order and types are what schema merging plus partition
    type inference yield for a `write_event_lake` lake: the 19 envelope data
    columns, then doc_type:string, then date:date."""
    from vectra_player_spark.schema import ENVELOPE_SCHEMA

    declared = read_event_lake(spark, lake).schema
    inferred = spark.read.option("mergeSchema", "true").parquet(lake).schema
    assert [(f.name, f.dataType) for f in declared] == [
        (f.name, f.dataType) for f in inferred
    ]
    data_cols = [f.name for f in ENVELOPE_SCHEMA.fields if f.name != "doc_type"]
    assert declared.names == data_cols + ["doc_type", "date"]
    assert declared.simpleString().endswith(",doc_type:string,date:date>")


def test_lake_file_missing_envelope_columns_reads_null(spark, tmp_path):
    """union_by_name: a file written without player_id/price reads them as
    NULL, so player lookups run on a lake where no file holds the column
    yet, and pick up the rows of files that do once they land."""
    path = str(tmp_path / "events_parquet")
    env = normalize_envelope(spark.createDataFrame(_fixture_rows()))
    actions = env.where(F.col("doc_type") == "player_action")
    lacking = actions.drop("player_id", "price").withColumn(
        "date", F.lit("2026-01-11")
    )
    write_event_lake(lacking, path)

    df = read_event_lake(spark, path)
    assert df.count() == 3
    assert df.where(F.col("player_id").isNull() & F.col("price").isNull()).count() == 3
    es = EventStore(df)
    assert es.get_player_actions("player-alice").count() == 0

    write_event_lake(actions, path)
    es = EventStore(read_event_lake(spark, path))
    got = es.get_player_actions("player-alice").collect()
    assert [(r.game_id, str(r.date)) for r in got] == [
        ("g1", "2026-01-10"),
        ("g3", "2026-01-10"),
    ]
    nulls = read_event_lake(spark, path, date="2026-01-11")
    assert nulls.where(F.col("player_id").isNotNull()).count() == 0
