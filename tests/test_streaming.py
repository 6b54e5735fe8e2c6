"""Streaming-operator tests over the FIXTURES.md §6 scenario set: normal
cadence, two-broadcast rug, partialPrices backfill, duplicate suppression,
gap thresholds, forced-sell annotation. File-stream source + memory sink;
a second file written mid-test exercises state persistence across
micro-batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from vectra_player_spark.streaming.jobs import (
    annotate_trades,
    dedup_within_watermark,
    read_tick_stream,
    windowed_event_rates,
)
from vectra_player_spark.streaming.stateful import phase_machine, sessionize_games

BASE_MS = 1_700_000_000_000


def _tick(seq, game_id, ts_off, **kw):
    row = {
        "session_id": "feed-1",
        "seq": seq,
        "ts_ms": BASE_MS + ts_off,
        "game_id": game_id,
        "active": kw.get("active", False),
        "rugged": kw.get("rugged", False),
        "allow_pre_round_buys": kw.get("presale", False),
        "cooldown_timer": kw.get("cooldown", 0),
        "price": kw.get("price"),
        "tick": kw.get("tick"),
        "server_seed": kw.get("seed"),
        "backfill_ticks": kw.get("backfill_ticks"),
        "backfill_prices": kw.get("backfill_prices"),
    }
    return row


SCENARIO_A = [
    _tick(1, "g1", 0, presale=True),
    _tick(2, "g1", 250, active=True, price=1.0, tick=0),
    _tick(3, "g1", 500, active=True, price=1.1, tick=1),
    # missing tick 2 then a 520 ms gap (threshold >= 500 → LR 8.0)
    _tick(4, "g1", 1020, active=True, price=1.3, tick=3),
    # late backfill of the missed tick 2 (partialPrices)
    _tick(5, "g1", 1270, active=True, price=1.4, tick=4,
          backfill_ticks=[2], backfill_prices=[1.2]),
]
SCENARIO_B = [
    # first rug broadcast: same game, rugged, seed revealed
    _tick(6, "g1", 1520, rugged=True, price=0.02, tick=5, seed="seed-abc"),
    # second broadcast: NEW game id in cooldown
    _tick(7, "g2", 1770, cooldown=5000),
    _tick(8, "g2", 2020, active=True, price=1.0, tick=0),
]


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    _write_jsonl(d / "batch_a.jsonl", SCENARIO_A)
    return d


def _run_query(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    return q


def test_phase_machine_full_scenario(spark, stream_dir):
    ticks = read_tick_stream(spark, str(stream_dir))
    q = _run_query(phase_machine(ticks), "phases")
    try:
        # write the second micro-batch mid-stream: state must carry over
        _write_jsonl(stream_dir / "batch_b.jsonl", SCENARIO_B)
        q.processAllAvailable()
        rows = {r.seq: r for r in spark.table("phases").collect()}
        assert rows[1].phase == "PRESALE"
        assert rows[2].phase == "ACTIVE" and rows[2].is_transition
        assert rows[3].phase == "ACTIVE" and not rows[3].is_transition
        assert rows[4].gap_ms == 520 and rows[4].gap_lr == 8.0
        assert rows[6].phase == "RUGGED" and rows[6].seed_revealed
        assert rows[6].rug_count == 1
        assert rows[7].phase == "COOLDOWN" and rows[7].games_seen == 2
        assert rows[8].phase == "ACTIVE"
    finally:
        q.stop()


def test_phase_machine_multi_chunk_out_of_order(spark, tmp_path):
    """applyInPandasWithState hands a group's batch to the function as
    MULTIPLE Arrow chunks (arrow.maxRecordsPerBatch). Rows that arrive
    out of seq order across chunk boundaries must still replay in seq
    order — the function concats all chunks before sorting (a per-chunk
    sort would replay wrong phase transitions at production batch sizes).
    Forced here with maxRecordsPerBatch=2 and a fully reversed batch."""
    d = tmp_path / "stream_ooo"
    d.mkdir()
    _write_jsonl(d / "batch.jsonl", list(reversed(SCENARIO_A + SCENARIO_B)))
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "2")
    try:
        ticks = read_tick_stream(spark, str(d))
        q = _run_query(phase_machine(ticks), "phases_ooo")
        try:
            rows = {r.seq: r for r in spark.table("phases_ooo").collect()}
            assert len(rows) == 8
            assert rows[1].phase == "PRESALE"
            assert rows[2].phase == "ACTIVE" and rows[2].is_transition
            assert rows[4].gap_ms == 520 and rows[4].gap_lr == 8.0
            assert rows[6].phase == "RUGGED" and rows[6].rug_count == 1
            assert rows[7].phase == "COOLDOWN" and rows[7].games_seen == 2
            assert rows[8].phase == "ACTIVE"
        finally:
            q.stop()
    finally:
        spark.conf.set(conf_key, old)


def test_sessionize_backfill_and_boundary(spark, stream_dir):
    _write_jsonl(stream_dir / "batch_b.jsonl", SCENARIO_B)
    ticks = read_tick_stream(spark, str(stream_dir))
    q = _run_query(sessionize_games(ticks), "sessions")
    try:
        done = spark.table("sessions").collect()
        assert len(done) == 1  # g1 finalized at the g2 boundary
        g1 = done[0]
        assert g1.game_id == "g1"
        assert g1.n_ticks == 6  # ticks 0..5 incl. backfilled tick 2
        assert g1.prices == [1.0, 1.1, 1.2, 1.3, 1.4, 0.02]
        assert g1.n_backfilled == 1
        assert g1.had_gaps  # the 520 ms hole
        assert g1.peak_price == 1.4
        assert g1.server_seed == "seed-abc"
    finally:
        q.stop()


def test_session_timer_flush_matches_boundary_flush_shape():
    """The idle-TTL flush (`_flush_session_state`) finalizes a partial
    episode from its state tuple alone, and emits exactly the row the
    game-boundary flush in `_replay_session` would for the same state."""
    import pandas as pd

    from vectra_player_spark.streaming.stateful import (
        _SESSION_INIT,
        _flush_session_state,
        _replay_session,
    )

    rows, st = _replay_session("feed-1", _SESSION_INIT, pd.DataFrame(SCENARIO_A))
    assert rows == []  # g1 still in flight: 4 live ticks, 1 backfilled
    flushed = _flush_session_state("feed-1", st)
    assert len(flushed) == 1
    key, gid, n, prices, peak, gaps, backfilled, seed = flushed[0]
    assert (key, gid, n, backfilled, seed) == ("feed-1", "g1", 5, 1, None)
    assert prices == [1.0, 1.1, 1.2, 1.3, 1.4]  # tick order, backfill in place
    assert peak == 1.4 and gaps is True

    # after the rug broadcast the boundary flush (next game id) and the
    # timer flush agree row for row
    _, st = _replay_session("feed-1", st, pd.DataFrame(SCENARIO_B[:1]))
    boundary, _ = _replay_session("feed-1", st, pd.DataFrame(SCENARIO_B[1:2]))
    assert _flush_session_state("feed-1", st) == boundary
    assert _flush_session_state("feed-1", _SESSION_INIT) == []


def test_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "dups"
    d.mkdir()
    rows = [
        dict(_tick(1, "g1", 0, rugged=True), ts_ms=BASE_MS),
        dict(_tick(2, "g1", 250, rugged=True), ts_ms=BASE_MS + 250),  # dup game
        dict(_tick(3, "g2", 500, rugged=True), ts_ms=BASE_MS + 500),
    ]
    _write_jsonl(d / "a.jsonl", rows)
    stream = read_tick_stream(spark, str(d)).withColumn(
        "event_time", F.timestamp_millis("ts_ms")
    )
    deduped = dedup_within_watermark(stream, "game_id", "event_time")
    q = _run_query(deduped.select("game_id"), "dedup_out")
    try:
        games = sorted(r.game_id for r in spark.table("dedup_out").collect())
        assert games == ["g1", "g2"]
    finally:
        q.stop()


def test_windowed_rates_and_trade_annotation(spark, stream_dir):
    _write_jsonl(stream_dir / "batch_b.jsonl", SCENARIO_B)
    ticks = read_tick_stream(spark, str(stream_dir))
    rates = windowed_event_rates(ticks, "1 second")
    q = (
        rates.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        total = sum(r.n for r in spark.table("rates").collect())
        assert total == len(SCENARIO_A) + len(SCENARIO_B)
    finally:
        q.stop()

    # T7 forced-sell: batch-join actions against the phase-stamped output
    phases = spark.createDataFrame(
        [("feed-1", 6, "RUGGED"), ("feed-1", 8, "ACTIVE")],
        "session_id string, seq long, phase string",
    )
    actions = spark.createDataFrame(
        [("feed-1", 6, "sell"), ("feed-1", 8, "sell")],
        "session_id string, seq long, action_type string",
    )
    out = {r.seq: r.is_forced_sell for r in annotate_trades(actions, phases).collect()}
    assert out == {6: True, 8: False}


# --------------------------------------------------------------------------
# S10 reader substitution: the same raw Socket.IO frames through a REAL TCP
# socket reader and through the file reader produce identical TICK_SCHEMA
# rows via the one shared parse chain (read_raw_frames → parse_tick_frames).
# --------------------------------------------------------------------------

RAW_FRAMES = [
    '42["gameStateUpdate",{"gameId":"g1","active":true,"rugged":false,'
    '"price":1.25,"tickCount":7,"cooldownTimer":0,"allowPreRoundBuys":false,'
    '"partialPrices":{"startTick":2,"endTick":10,"values":{"10":1.2,"2":1.1,"3":1.15}}}]',
    '42["gameStateUpdate",{"gameId":"g1","active":false,"rugged":true,'
    '"price":0.02,"tickCount":8,'
    '"provablyFair":{"serverSeed":"seed-xyz","serverSeedHash":"h"}}]',
    "3",  # engine.io pong — must be ignored, not crash the chain
    '42["newTrade",{"playerId":"p1"}]',  # other event — filtered out
    "GARBAGE«FRAME",  # malformed — skip-malformed discipline
]

EXPECTED = {
    7: ("g1", True, False, 1.25, None, (2, 3, 10), (1.1, 1.15, 1.2)),
    8: ("g1", False, True, 0.02, "seed-xyz", None, None),
}


def _check_tick_rows(rows):
    assert {r.tick for r in rows} == {7, 8}
    for r in rows:
        gid, active, rugged, price, seed, bft, bfp = EXPECTED[r.tick]
        assert r.game_id == gid and r.active == active and r.rugged == rugged
        assert r.price == price and r.server_seed == seed
        got_bft = tuple(r.backfill_ticks) if r.backfill_ticks else None
        got_bfp = tuple(r.backfill_prices) if r.backfill_prices else None
        assert got_bft == bft and got_bfp == bfp  # numeric-sorted, aligned


def test_raw_frames_via_file_reader(spark, tmp_path):
    from vectra_player_spark.streaming.jobs import parse_tick_frames, read_raw_frames

    d = tmp_path / "frames"
    d.mkdir()
    (d / "a.txt").write_text("\n".join(RAW_FRAMES) + "\n")
    raw = read_raw_frames(spark, source="files", path=str(d))
    q = _run_query(parse_tick_frames(raw), "file_ticks")
    try:
        _check_tick_rows(spark.table("file_ticks").collect())
    finally:
        q.stop()


def test_raw_frames_via_tcp_socket_reader(spark):
    """Drives the actual `socket` source against a local TCP server — the
    reader-swap proof: no change to the parse chain or operators."""
    import socket
    import threading
    import time

    from vectra_player_spark.streaming.jobs import parse_tick_frames, read_raw_frames

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = ("\n".join(RAW_FRAMES) + "\n").encode()
            conn.sendall(payload)
            stop.wait(timeout=60)  # hold the connection until the test ends

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        raw = read_raw_frames(spark, source="socket", host="127.0.0.1", port=port)
        q = (
            parse_tick_frames(raw)
            .writeStream.format("memory")
            .queryName("socket_ticks")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.table("socket_ticks").count() >= 2:
                    break
                time.sleep(0.5)
            _check_tick_rows(spark.table("socket_ticks").collect())
        finally:
            q.stop()
    finally:
        stop.set()
        server.close()


def test_raw_frames_via_kafka_bridge(spark, tmp_path):
    """Broker-free Kafka contract (VERDICT r2 #6): recorded records with
    Kafka's EXACT reader output schema (key/value binary, topic, partition,
    offset, timestamp, timestampType) drive kafka_frames_bridge + the
    shared parse chain as a real stream. Also pins the kafka-only
    metadata: offset→seq passthrough and log-append-time→ts_ms."""
    import datetime

    from vectra_player_spark.streaming.jobs import kafka_frames_bridge, parse_tick_frames

    kafka_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    t0 = datetime.datetime(2026, 1, 10, 0, 0, 0)
    records = [
        (
            None,
            frame.encode(),
            "rugs-feed",
            0,
            100 + i,
            t0 + datetime.timedelta(milliseconds=250 * i),
            1,  # LogAppendTime
        )
        for i, frame in enumerate(RAW_FRAMES)
    ]
    src = tmp_path / "kafka_records"
    spark.createDataFrame(records, kafka_schema).write.parquet(str(src))
    stream = spark.readStream.schema(kafka_schema).parquet(str(src))
    bridged = kafka_frames_bridge(stream)
    q = _run_query(parse_tick_frames(bridged), "kafka_ticks")
    try:
        rows = spark.table("kafka_ticks").collect()
        _check_tick_rows(rows)  # identical TICK rows as file/socket readers
        # kafka metadata contract: seq carries the offset, ts_ms the
        # broker timestamp — record i=0 is tick 7, i=1 is tick 8
        by_tick = {r.tick: r for r in rows}
        assert by_tick[7].seq == 100 and by_tick[8].seq == 101
        # wall-clock epoch depends on session timezone; pin the DELTA
        assert by_tick[8].ts_ms - by_tick[7].ts_ms == 250
    finally:
        q.stop()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill the stream after batch A, append batch B, restart from the SAME
    checkpoint: (1) the file sink's _spark_metadata manifest yields batch-A
    rows exactly once (no replay dups), and (2) the phase machine's keyed
    state survives the restart — g1's rug in batch B must see the
    pre-restart state (rug_count increments, games_seen carries over).
    This is the recovery contract a production deployment leans on when an
    executor or the whole job dies mid-feed."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            phase_machine(read_tick_stream(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    _write_jsonl(src / "batch_a.jsonl", SCENARIO_A)
    q1 = start()
    q1.processAllAvailable()
    q1.stop()

    _write_jsonl(src / "batch_b.jsonl", SCENARIO_B)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    rows = {r.seq: r for r in spark.read.parquet(out).collect()}
    # exactly-once: every seq exactly one row, nothing lost, nothing doubled
    assert sorted(rows) == [1, 2, 3, 4, 5, 6, 7, 8]
    # state continuity: batch-B rows computed FROM batch-A state
    assert rows[6].phase == "RUGGED" and rows[6].rug_count == 1
    assert rows[7].phase == "COOLDOWN" and rows[7].games_seen == 2
    assert rows[8].phase == "ACTIVE"


def test_enrich_stream_with_refreshing_dim(spark, tmp_path):
    """Dimension updated BETWEEN micro-batches must be visible to the next
    batch: foreachBatch re-reads the dim per batch (a plan-time static join
    would pin the original snapshot — the documented trap)."""
    from vectra_player_spark.streaming.jobs import enrich_stream_with_dim

    src = tmp_path / "src"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("feed-1", "segment_v1")], "session_id string, segment string"
    ).write.mode("overwrite").parquet(dim_path)

    _write_jsonl(src / "a.jsonl", SCENARIO_A)
    q = enrich_stream_with_dim(
        read_tick_stream(spark, str(src)), dim_path, "session_id", out, ckpt
    )
    try:
        q.processAllAvailable()
        # dim changes between batches
        spark.createDataFrame(
            [("feed-1", "segment_v2")], "session_id string, segment string"
        ).write.mode("overwrite").parquet(dim_path)
        _write_jsonl(src / "b.jsonl", SCENARIO_B)
        q.processAllAvailable()
    finally:
        q.stop()

    seg = {r.seq: r.segment for r in spark.read.parquet(out).collect()}
    assert len(seg) == 8
    assert all(seg[s] == "segment_v1" for s in (1, 2, 3, 4, 5))
    assert all(seg[s] == "segment_v2" for s in (6, 7, 8))


def test_phase_machine_on_rocksdb_state_store(spark, tmp_path):
    """The production-scale state backend: the same applyInPandasWithState
    machine runs unchanged on RocksDBStateStoreProvider (bounded-memory
    keyed state with changelog checkpointing at real feed cardinalities),
    so the HDFS-default in other tests is a test convenience, not a
    design constraint."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    d = tmp_path / "rocks_src"
    d.mkdir()
    _write_jsonl(d / "a.jsonl", SCENARIO_A)
    try:
        q = _run_query(phase_machine(read_tick_stream(spark, str(d))), "rocks_phases")
        try:
            _write_jsonl(d / "b.jsonl", SCENARIO_B)
            q.processAllAvailable()
            rows = {r.seq: r for r in spark.table("rocks_phases").collect()}
            assert len(rows) == 8
            assert rows[6].phase == "RUGGED" and rows[6].rug_count == 1
            assert rows[7].phase == "COOLDOWN" and rows[7].games_seen == 2
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_streaming_neardup_suppression(spark, tmp_path):
    """Cross-batch LSH novelty gate (streaming/neardup.py): a doc near-
    identical to one accepted in an EARLIER batch is suppressed by the
    persistent band store; an in-batch near-dup is suppressed keep-first;
    genuinely novel text flows through."""
    import json as _json

    from vectra_player_spark.streaming.neardup import neardup_suppress_stream

    base = " ".join(f"tok{i % 17} word{i % 11}" for i in range(60))
    other = " ".join(f"alpha{i % 13} beta{i % 7} gamma{i}" for i in range(60))
    near = base.replace("tok3", "tokX")  # ~1-token change: near-dup of base

    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(fname, rows):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_batch("a.jsonl", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": near},    # in-batch near-dup of 1 → suppressed
        {"doc_id": 3, "text": other},   # novel
    ])
    docs = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = neardup_suppress_stream(docs, store, ckpt)
    try:
        q.processAllAvailable()
        # second batch: near-dup of batch-1 keeper + one novel doc
        write_batch("b.jsonl", [
            {"doc_id": 10, "text": base.replace("word4", "wordY")},
            {"doc_id": 11, "text": " ".join(f"delta{i}" for i in range(80))},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    novel = {
        r["doc_id"]
        for r in spark.read.schema("doc_id long, text string")
        .parquet(str(tmp_path / "store" / "novel"))
        .collect()
    }
    assert novel == {1, 3, 11}


def test_streaming_neardup_batch_replay_is_idempotent(spark, tmp_path):
    """at-least-once foreachBatch: re-processing the same batch id must
    leave the store byte-identical (overwrite of the batch's own subdir),
    not double-append bands."""
    from vectra_player_spark.streaming.neardup import process_batch

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(1, " ".join(f"w{i % 9} t{i % 5}" for i in range(50)))],
        "doc_id long, text string",
    )
    process_batch(batch, 0, store)
    first = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(store + "/bands").collect()
    )
    process_batch(batch, 0, store)  # replay after simulated failure
    second = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(store + "/bands").collect()
    )
    assert first == second and len(first) > 0


def test_phase_chain_neardup_gate_survives_restart(spark, tmp_path):
    """VERDICT r2 #9 — recovery depth across the CHAIN: ticks → phase
    machine (stage 1, parquet sink) → novelty gate (stage 2, foreachBatch
    over the phase output stream). Both stages are stopped after batch A;
    stage 2's latest checkpoint COMMIT marker is then deleted — the real
    crash-between-write-and-commit window — so on restart Spark re-runs
    that micro-batch through foreachBatch (at-least-once). Exactly-once of
    the gate's EFFECTS must come from the store's idempotent batch
    partitions, and cross-batch suppression must come from the band store
    surviving the restart: a batch-B doc near-identical to a batch-A
    keeper is suppressed by state written BEFORE the crash."""
    import os

    from vectra_player_spark.streaming.neardup import neardup_suppress_stream

    src = tmp_path / "src"
    src.mkdir()
    phases_out = str(tmp_path / "phases")
    ckpt1 = str(tmp_path / "ckpt1")
    store = str(tmp_path / "store")
    ckpt2 = str(tmp_path / "ckpt2")

    def start_stage1():
        return (
            phase_machine(read_tick_stream(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", phases_out)
            .option("checkpointLocation", ckpt1)
            .outputMode("append")
            .start()
        )

    def start_stage2():
        phases = (
            spark.readStream.schema(spark.read.parquet(phases_out).schema)
            .parquet(phases_out)
        )
        # doc text depends on PHASE ONLY: every ACTIVE doc is an exact
        # near-dup of every other, whatever the game/batch — the lever
        # that makes cross-batch suppression observable
        docs = phases.select(
            F.col("seq").alias("doc_id"),
            F.expr(
                "concat_ws(' ', transform(sequence(1, 60),"
                " i -> concat(phase, '_tok', pmod(i * 7, 23))))"
            ).alias("text"),
        )
        return neardup_suppress_stream(docs, store, ckpt2)

    _write_jsonl(src / "batch_a.jsonl", SCENARIO_A)
    q1 = start_stage1()
    q1.processAllAvailable()
    q1.stop()
    q2 = start_stage2()
    q2.processAllAvailable()
    q2.stop()

    novel_dir = str(tmp_path / "store" / "novel")
    assert {
        r.doc_id for r in spark.read.parquet(novel_dir).collect()
    } == {1, 2}  # PRESALE keeper + first ACTIVE; seq 3-5 in-batch dups

    # crash window: commit marker of stage 2's last batch vanishes →
    # restart re-runs that batch through foreachBatch
    commit_dir = os.path.join(ckpt2, "commits")
    latest = sorted(f for f in os.listdir(commit_dir) if not f.startswith("."))[-1]
    os.remove(os.path.join(commit_dir, latest))
    crc = os.path.join(commit_dir, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _write_jsonl(src / "batch_b.jsonl", SCENARIO_B)
    q1 = start_stage1()
    q1.processAllAvailable()
    q1.stop()
    q2 = start_stage2()
    q2.processAllAvailable()
    q2.stop()

    novel = [r.doc_id for r in spark.read.parquet(novel_dir).collect()]
    # no dup from the replayed batch, nothing lost, and seq 8 (ACTIVE,
    # batch B) suppressed by the band store persisted BEFORE the crash
    assert sorted(novel) == [1, 2, 6, 7]
    # band store internally consistent: one row per (doc, band)
    bands = spark.read.parquet(str(tmp_path / "store" / "bands"))
    assert bands.count() == bands.select("doc_id", "band_idx").distinct().count()
    # upstream stage also exactly-once across its own restart
    phase_rows = spark.read.parquet(phases_out)
    assert sorted(r.seq for r in phase_rows.collect()) == [1, 2, 3, 4, 5, 6, 7, 8]


def _poll(fn, want, deadline_sec=60):
    """Poll fn() until it returns want (or deadline); returns last value.
    ProcessingTimeTimeout queries run continuous timer batches, so
    processAllAvailable never 'settles' — polling progress is the
    supported observation method."""
    import time as _time

    deadline = _time.time() + deadline_sec
    val = None
    while _time.time() < deadline:
        val = fn()
        if val == want:
            return val
        _time.sleep(0.2)
    return val


def _state_rows(q):
    p = q.lastProgress
    if not p or not p.get("stateOperators"):
        return None
    return p["stateOperators"][0]["numRowsTotal"]


def test_idle_ttl_evicts_state_and_flushes_partial_sessions(spark, tmp_path):
    """ProcessingTimeTimeout eviction: a feed that goes silent past the
    TTL has its partial game FINALIZED (flushed with the ticks that
    arrived, same rule as the game-boundary flush) and its state removed.
    State-store row counts from the progress metrics prove the eviction
    (the SCALE.md state-audit contract)."""
    src = tmp_path / "ttl_src"
    src.mkdir()
    rows_a = [dict(r, session_id="feed-live") for r in SCENARIO_A] + [
        dict(r, session_id="feed-idle") for r in SCENARIO_A
    ]
    _write_jsonl(src / "a.jsonl", rows_a)
    q = (
        sessionize_games(read_tick_stream(spark, str(src)), idle_ttl_ms=500)
        .writeStream.format("memory")
        .queryName("ttl_sessions")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # both keys resident once batch A lands; then both TTLs lapse
        # (no further data) and both partial games flush on eviction
        assert _poll(lambda: _state_rows(q), 2) == 2
        assert _poll(lambda: _state_rows(q), 0) == 0
        out = spark.table("ttl_sessions").collect()
        by_key = {r.session_id: r for r in out}
        assert set(by_key) == {"feed-live", "feed-idle"}
        for r in out:  # both flushed WITH the backfilled tick applied
            assert r.game_id == "g1" and r.n_ticks == 5 and r.n_backfilled == 1
            assert r.had_gaps  # the 520 ms gap in SCENARIO_A
    finally:
        q.stop()


def test_phase_machine_idle_ttl_drops_key(spark, tmp_path):
    src = tmp_path / "ttl_phase_src"
    src.mkdir()
    _write_jsonl(src / "a.jsonl", SCENARIO_A)
    q = (
        phase_machine(read_tick_stream(spark, str(src)), idle_ttl_ms=500)
        .writeStream.format("memory")
        .queryName("ttl_phases")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        assert _poll(lambda: _state_rows(q), 1) == 1
        assert _poll(lambda: spark.table("ttl_phases").count(), 5) == 5
        # the key lapses; eviction emits no phantom rows
        assert _poll(lambda: _state_rows(q), 0) == 0
        assert spark.table("ttl_phases").count() == 5
    finally:
        q.stop()


def test_band_store_compaction_preserves_suppression(spark, tmp_path):
    """compact_band_store folds committed batch partitions into batch=-1:
    store CONTENT is unchanged (same band set), directory count drops,
    suppression against folded history still works, and a batch at/above
    the horizon is left untouched (replay safety)."""
    import os as _os

    from vectra_player_spark.streaming.neardup import (
        compact_band_store,
        process_batch,
    )

    store = str(tmp_path / "cstore")

    def doc(i, text):
        return (i, text)

    t0 = " ".join(f"a{i % 11} b{i % 7}" for i in range(60))
    t1 = " ".join(f"c{i % 13} d{i % 5}" for i in range(60))
    t2 = " ".join(f"e{i % 17} f{i % 3}" for i in range(60))
    for bid, d in enumerate([doc(1, t0), doc(2, t1), doc(3, t2)]):
        process_batch(
            spark.createDataFrame([d], "doc_id long, text string"), bid, store
        )
    bands_dir = _os.path.join(store, "bands")
    before = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(bands_dir).collect()
    )
    assert len([d for d in _os.listdir(bands_dir) if d.startswith("batch=")]) == 3
    # fold batches 0-1 (committed history); batch 2 stays replayable
    n = compact_band_store(spark, store, before_batch_id=2)
    assert n == 2
    dirs = sorted(d for d in _os.listdir(bands_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=2"]
    after = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(bands_dir).collect()
    )
    assert after == before  # content identical, layout folded
    # suppression against folded history: replaying doc 1's text as a new
    # doc in a NEW batch must be suppressed by the batch=-1 partition
    process_batch(
        spark.createDataFrame([(9, t0)], "doc_id long, text string"), 3, store
    )
    novel9 = spark.read.parquet(_os.path.join(store, "novel", "batch=3"))
    assert novel9.count() == 0
    # a second compaction folds batch=-1 + batch=2 again (next generation
    # batch=-2), content intact
    assert compact_band_store(spark, store, before_batch_id=3) == 2
    final = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(bands_dir).collect()
    )
    assert final == before


def test_band_store_compaction_interrupted_fold_is_safe(spark, tmp_path):
    """Crash-atomicity (round-5 ADVICE): a kill AFTER the consolidated
    generation lands but BEFORE the source dirs are deleted leaves the
    store with duplicate history — the probe must still suppress (an
    existence semi-join is duplicate-insensitive), and the next compaction
    run must reclaim the leftovers without growing the band set."""
    import os as _os
    import shutil as _shutil

    from vectra_player_spark.streaming.neardup import (
        compact_band_store,
        process_batch,
    )

    store = str(tmp_path / "istore")
    t0 = " ".join(f"a{i % 11} b{i % 7}" for i in range(60))
    t1 = " ".join(f"c{i % 13} d{i % 5}" for i in range(60))
    for bid, d in enumerate([(1, t0), (2, t1)]):
        process_batch(
            spark.createDataFrame([d], "doc_id long, text string"), bid, store
        )
    bands_dir = _os.path.join(store, "bands")
    before = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(bands_dir).collect()
    )
    # Simulate the interrupted fold: consolidated batch=-1 exists ALONGSIDE
    # the still-undeleted source dirs (the exact on-disk state a hard kill
    # between the rename and the deletes leaves behind).
    assert compact_band_store(spark, store, before_batch_id=2) == 2
    for bid, d in [(0, (1, t0)), (1, (2, t1))]:  # re-create the source dirs
        process_batch(
            spark.createDataFrame([d], "doc_id long, text string"), bid, store
        )
    dirs = sorted(d for d in _os.listdir(bands_dir) if d.startswith("batch="))
    assert dirs == ["batch=-1", "batch=0", "batch=1"]
    # stale staging dir from the crash must also be reclaimed
    _os.makedirs(_os.path.join(store, "_compact_tmp", "deadbeef"), exist_ok=True)
    # probe against the duplicated store still suppresses
    process_batch(
        spark.createDataFrame([(9, t0)], "doc_id long, text string"), 5, store
    )
    assert spark.read.parquet(_os.path.join(store, "novel", "batch=5")).count() == 0
    _shutil.rmtree(_os.path.join(store, "novel", "batch=5"))
    _shutil.rmtree(_os.path.join(bands_dir, "batch=5"))
    # next compaction reclaims: folds dup history into batch=-2, removes
    # leftovers, band SET identical (dropDuplicates absorbs the dup rows)
    assert compact_band_store(spark, store, before_batch_id=2) == 3
    dirs = sorted(d for d in _os.listdir(bands_dir) if d.startswith("batch="))
    assert dirs == ["batch=-2"]
    assert not _os.path.isdir(_os.path.join(store, "_compact_tmp"))
    after = sorted(
        (r["doc_id"], r["band_idx"], r["band_hash"])
        for r in spark.read.parquet(bands_dir).collect()
    )
    assert after == before


def test_sessionize_event_time_ttl_flushes_on_watermark(spark, tmp_path):
    """EventTimeTimeout eviction (round-5): the idle deadline anchors at the
    key's LAST EVENT TIME and fires when the watermark passes it — the
    replay/backfill policy. No periodic trigger, no continuous timer
    micro-batches (the ProcessingTimeTimeout pathology): the flush is
    driven purely by event-time progress in the data."""
    src = tmp_path / "evttl_src"
    src.mkdir()
    _write_jsonl(
        src / "a.jsonl", [dict(r, session_id="feed-idle") for r in SCENARIO_A]
    )
    q = (
        sessionize_games(
            read_tick_stream(spark, str(src)),
            idle_ttl_ms=2_000,
            ttl_mode="event",
            watermark_delay="1 second",
        )
        .writeStream.format("memory")
        .queryName("evttl_sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch A: game g1 never hits a boundary and the watermark sits at
        # its own max-1s — nothing flushed, state resident
        assert spark.table("evttl_sessions").count() == 0
        # an hour-later event on ANOTHER feed advances the watermark far
        # past feed-idle's (last_ts + ttl) deadline → event-time timer
        # fires (no-data micro-batch) and flushes the partial game
        _write_jsonl(
            src / "b.jsonl",
            [dict(_tick(100, "g9", 3_600_000, active=True, price=1.0, tick=0),
                  session_id="feed-live")],
        )
        q.processAllAvailable()
        assert _poll(lambda: spark.table("evttl_sessions").count(), 1) == 1
        row = spark.table("evttl_sessions").collect()[0]
        assert row.session_id == "feed-idle"
        # flushed WITH the backfilled tick applied — same finalize rule as
        # the game-boundary flush
        assert row.game_id == "g1" and row.n_ticks == 5 and row.n_backfilled == 1
        assert row.had_gaps
    finally:
        q.stop()


def test_phase_machine_event_time_ttl_drops_key(spark, tmp_path):
    """Phase-machine event-time TTL: the idle key is evicted when the
    watermark passes, emitting no phantom rows; the live feed's rows are
    unaffected."""
    src = tmp_path / "evttl_phase_src"
    src.mkdir()
    _write_jsonl(src / "a.jsonl", SCENARIO_A)  # feed-1
    q = (
        phase_machine(
            read_tick_stream(spark, str(src)),
            idle_ttl_ms=2_000,
            ttl_mode="event",
            watermark_delay="1 second",
        )
        .writeStream.format("memory")
        .queryName("evttl_phases")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("evttl_phases").count() == 5
        assert _state_rows(q) == 1
        _write_jsonl(
            src / "b.jsonl",
            [dict(_tick(100, "g9", 3_600_000, active=True, price=1.0, tick=0),
                  session_id="feed-live")],
        )
        q.processAllAvailable()
        # feed-1 evicted by the watermark (no phantom output); feed-live's
        # one row landed → 6 total, 1 resident key
        assert _poll(lambda: _state_rows(q), 1) == 1
        assert spark.table("evttl_phases").count() == 6
    finally:
        q.stop()
