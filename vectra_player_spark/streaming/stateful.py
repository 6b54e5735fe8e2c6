"""Stateful stream operators: phase machine (T1), game sessionization with
late-tick backfill (T2+T3), gap tracking (T4).

Both operators are `applyInPandasWithState` grouped by `session_id` (the
feed key — the reference runs one state machine per feed,
rugs-sanitizer/src/phase_detector.py). State survives micro-batches; rows
within a batch are sorted by seq before replay, so cadence is preserved
under any micro-batch slicing. At scale each feed is an independent key —
thousands of feeds parallelize across the state store with no cross-key
coupling.

Phase semantics (phase_detector.py:43-165):
  rugged → RUGGED; active → ACTIVE; allowPreRoundBuys → PRESALE;
  cooldownTimer > 0 → COOLDOWN; else UNKNOWN.
Two-broadcast rug (phase_detector.py:119-148): 1st broadcast keeps the
same gameId with rugged=true (seed reveal, rug_count++); the next event
with a NEW gameId starts COOLDOWN and games_seen++.

Sessionization (price_history_handler.py:39-116): the episode boundary is
the gameId change — the previous game finalizes with its price array, peak,
and gap flags; `partialPrices` corrections fill missed ticks in place
before finalization (T3 late-data backfill).

The per-row replay loops and the partial-episode flush are the pure
helpers `_replay_phase`, `_replay_session` and `_flush_session_state`;
the applyInPandasWithState bindings and their idle-TTL wrapper are thin
shells around them, so the semantics can be tested without a stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Input rows for both operators (parsed gameStateUpdate ticks).
TICK_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("game_id", T.StringType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("rugged", T.BooleanType()),
        T.StructField("allow_pre_round_buys", T.BooleanType()),
        T.StructField("cooldown_timer", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("tick", T.LongType()),
        T.StructField("server_seed", T.StringType()),
        T.StructField("backfill_ticks", T.ArrayType(T.LongType())),
        T.StructField("backfill_prices", T.ArrayType(T.DoubleType())),
    ]
)

PHASE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("game_id", T.StringType()),
        T.StructField("phase", T.StringType()),
        T.StructField("prev_phase", T.StringType()),
        T.StructField("is_transition", T.BooleanType()),
        T.StructField("games_seen", T.LongType()),
        T.StructField("rug_count", T.LongType()),
        T.StructField("seed_revealed", T.BooleanType()),
        T.StructField("gap_ms", T.LongType()),
        T.StructField("gap_lr", T.DoubleType()),
        # event time of the tick (round-6): a lake sink without event
        # time cannot feed (group, day) rollups — the sketch-maintenance
        # spine keys its daily HLL table on this
        T.StructField("ts_ms", T.LongType()),
    ]
)

PHASE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_game_id", T.StringType()),
        T.StructField("prev_phase", T.StringType()),
        T.StructField("games_seen", T.LongType()),
        T.StructField("rug_count", T.LongType()),
        T.StructField("last_ts_ms", T.LongType()),
        T.StructField("prev_rugged", T.BooleanType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType()),
        T.StructField("game_id", T.StringType()),
        T.StructField("n_ticks", T.LongType()),
        T.StructField("prices", T.ArrayType(T.DoubleType())),
        T.StructField("peak_price", T.DoubleType()),
        T.StructField("had_gaps", T.BooleanType()),
        T.StructField("n_backfilled", T.LongType()),
        T.StructField("server_seed", T.StringType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("game_id", T.StringType()),
        T.StructField("ticks", T.ArrayType(T.LongType())),
        T.StructField("prices", T.ArrayType(T.DoubleType())),
        T.StructField("had_gaps", T.BooleanType()),
        T.StructField("n_backfilled", T.LongType()),
        T.StructField("server_seed", T.StringType()),
        T.StructField("last_ts_ms", T.LongType()),
    ]
)

_PHASE_COLS = [f.name for f in PHASE_OUTPUT_SCHEMA.fields]
_SESSION_COLS = [f.name for f in SESSION_OUTPUT_SCHEMA.fields]

_PHASE_INIT = (None, "UNKNOWN", 0, 0, None, False)
_SESSION_INIT = (None, [], [], False, 0, None, None)

# state-tuple index of last_ts_ms (event-time TTL anchors on it)
_PHASE_LAST_TS_IDX = 4
_SESSION_LAST_TS_IDX = 6


def _detect_phase(row) -> str:
    if bool(row.rugged):
        return "RUGGED"
    if bool(row.active):
        return "ACTIVE"
    if bool(row.allow_pre_round_buys):
        return "PRESALE"
    if (row.cooldown_timer or 0) > 0:
        return "COOLDOWN"
    return "UNKNOWN"


def _gap_lr(gap_ms: int) -> float:
    """T4 thresholds (analyzers/bayesian.py:62-76): expected 250 ms cadence;
    gaps >= 350/450/500 ms escalate likelihood ratios 1.5/3.0/8.0."""
    if gap_ms >= 500:
        return 8.0
    if gap_ms >= 450:
        return 3.0
    if gap_ms >= 350:
        return 1.5
    return 1.0


# ---------------------------------------------------------------------------
# Pure replay cores — ONE semantics, every harness binding delegates here.
# ---------------------------------------------------------------------------


def _replay_phase(key_val, st, batch: pd.DataFrame):
    """One batch of ticks through the phase machine; returns (rows, state).
    Pure function of (state tuple, batch) — the batch is sorted ONCE here,
    so cadence holds under any micro-batch/Arrow-chunk slicing."""
    cur_game, prev_phase, games_seen, rug_count, last_ts, prev_rugged = st
    out = []
    for row in batch.sort_values("seq").itertuples():
        phase = _detect_phase(row)
        gid = row.game_id
        if gid != cur_game:
            games_seen += 1
            # second rug broadcast: new game while previous was rugged
            if prev_rugged and phase not in ("RUGGED",):
                phase = "COOLDOWN" if phase == "UNKNOWN" else phase
            cur_game = gid
        if phase == "RUGGED" and not prev_rugged:
            rug_count += 1
        gap_ms = int(row.ts_ms - last_ts) if last_ts is not None else 0
        out.append(
            (
                key_val,
                int(row.seq),
                gid,
                phase,
                prev_phase,
                phase != prev_phase,
                games_seen,
                rug_count,
                row.server_seed is not None and phase == "RUGGED",
                gap_ms,
                _gap_lr(gap_ms),
                int(row.ts_ms),
            )
        )
        prev_phase = phase
        prev_rugged = phase == "RUGGED"
        last_ts = int(row.ts_ms)
    return out, (cur_game, prev_phase, games_seen, rug_count, last_ts, prev_rugged)


def _replay_session(key_val, st, batch: pd.DataFrame):
    """One batch of ticks through the sessionizer; returns
    (finalized_rows, state). Boundary finalize on gameId change, duplicate
    ticks keep the latest price, partialPrices backfill (T3), gap flag at
    the 350 ms cadence threshold."""
    gid, ticks, prices, had_gaps, n_backfilled, seed, last_ts = st
    ticks, prices = list(ticks), list(prices)
    finalized = []

    def finalize():
        nonlocal ticks, prices, had_gaps, n_backfilled, seed
        if gid is not None and ticks:
            order = sorted(range(len(ticks)), key=lambda i: ticks[i])
            sp = [prices[i] for i in order]
            finalized.append(
                (key_val, gid, len(sp), sp, max(sp), had_gaps, n_backfilled, seed)
            )
        ticks, prices, had_gaps, n_backfilled, seed = [], [], False, 0, None

    for row in batch.sort_values("seq").itertuples():
        if row.game_id != gid:
            finalize()
            gid = row.game_id
        if last_ts is not None and (row.ts_ms - last_ts) >= 350:
            had_gaps = True
        last_ts = int(row.ts_ms)
        if row.tick is not None and row.price is not None and not pd.isna(row.price):
            tick = int(row.tick)
            if tick in ticks:  # duplicate tick broadcast — keep latest
                prices[ticks.index(tick)] = float(row.price)
            else:
                ticks.append(tick)
                prices.append(float(row.price))
        # T3: partialPrices corrections fill missed ticks in place
        bt, bp = row.backfill_ticks, row.backfill_prices
        if bt is not None and len(bt) > 0:
            for bt_i, bp_i in zip(bt, bp):
                bt_i = int(bt_i)
                if bt_i not in ticks:
                    ticks.append(bt_i)
                    prices.append(float(bp_i))
                    n_backfilled += 1
        if row.server_seed is not None and not (
            isinstance(row.server_seed, float) and pd.isna(row.server_seed)
        ):
            seed = row.server_seed
    return finalized, (gid, ticks, prices, had_gaps, n_backfilled, seed, last_ts)


def _flush_session_state(key_val, st):
    """Finalize a partial episode straight from its state tuple (the idle
    TTL expiry path — no batch rows involved). Same rule as the
    game-boundary flush in `_replay_session`."""
    gid, ticks, prices, had_gaps, n_backfilled, seed, _last = st
    if gid is None or not ticks:
        return []
    order = sorted(range(len(ticks)), key=lambda i: ticks[i])
    sp = [prices[i] for i in order]
    return [(key_val, gid, len(sp), sp, max(sp), had_gaps, n_backfilled, seed)]


def _concat_chunks(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    # applyInPandasWithState delivers a group's batch as MULTIPLE Arrow
    # chunks (arrow.maxRecordsPerBatch); sorting each chunk independently
    # would replay out-of-order ticks spanning chunk boundaries in the
    # wrong order. Materialize the whole group; the core sorts ONCE.
    chunks = list(pdfs)
    return pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()


# ---------------------------------------------------------------------------
# applyInPandasWithState bindings.
# ---------------------------------------------------------------------------


def phase_machine_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    st = tuple(state.get) if state.exists else _PHASE_INIT
    batch = _concat_chunks(pdfs)
    out = []
    if not batch.empty:
        out, st = _replay_phase(key[0], st, batch)
    state.update(tuple(st))
    yield pd.DataFrame(out, columns=_PHASE_COLS)


def sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    st = tuple(state.get) if state.exists else _SESSION_INIT
    batch = _concat_chunks(pdfs)
    finalized = []
    if not batch.empty:
        finalized, st = _replay_session(key[0], st, batch)
    state.update(tuple(st))
    yield pd.DataFrame(finalized, columns=_SESSION_COLS)


def _ttl_wrapped(
    base_fn,
    flush_fn,
    out_cols: list[str],
    last_ts_idx: int,
    idle_ttl_ms: int,
    ttl_mode: str,
):
    """Wrap a stateful fn with idle-key TTL eviction.

    ttl_mode='processing': wall-clock idleness (setTimeoutDuration) — the
    live-feed policy, but the engine runs continuous timer micro-batches.
    ttl_mode='event': the deadline rides the WATERMARK
    (setTimeoutTimestamp at last-event-time + ttl) — for replay/backfill
    pipelines, where 'idle' means 'the event stream moved past this key',
    no busy-loop trigger required and semantics are replay-deterministic.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            for _ in pdfs:  # drain the group's (empty) Arrow stream
                pass
            st = tuple(state.get) if state.exists else None
            state.remove()
            rows = flush_fn(key[0], st) if st is not None else []
            if rows:  # yield only non-empty frames (empty-frame Arrow
                # round-trip crashes the worker — measured, not theory)
                yield pd.DataFrame(rows, columns=out_cols)
            return
        yield from base_fn(key, pdfs, state)
        # runs when Spark exhausts the generator — after the inner fn's
        # state.update, which the timeout setters require
        if ttl_mode == "processing":
            state.setTimeoutDuration(idle_ttl_ms)
        else:
            last_ts = tuple(state.get)[last_ts_idx]
            wm = state.getCurrentWatermarkMs()
            anchor = last_ts if last_ts is not None else wm
            # the deadline must sit beyond the current watermark or Spark
            # rejects it; a key whose anchor already lapsed expires on the
            # very next watermark advance
            state.setTimeoutTimestamp(max(int(anchor) + idle_ttl_ms, wm + 1))

    return fn


def _apply_stateful(
    ticks: DataFrame,
    fn,
    output_schema: T.StructType,
    state_schema: T.StructType,
    idle_ttl_ms: int | None,
    ttl_mode: str,
    watermark_delay: str,
) -> DataFrame:
    if idle_ttl_ms is None:
        timeout = GroupStateTimeout.NoTimeout
    elif ttl_mode == "processing":
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    elif ttl_mode == "event":
        timeout = GroupStateTimeout.EventTimeTimeout
        # EventTimeTimeout requires a watermark; derive it from the tick
        # timestamp. The helper column rides along into the UDF (unused).
        ticks = ticks.withColumn(
            "_event_ts", F.timestamp_millis(F.col("ts_ms"))
        ).withWatermark("_event_ts", watermark_delay)
    else:
        raise ValueError(f"ttl_mode must be 'processing' or 'event', got {ttl_mode!r}")
    return ticks.groupBy("session_id").applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def phase_machine(
    ticks: DataFrame,
    idle_ttl_ms: int | None = None,
    ttl_mode: str = "processing",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """T1/T4: per-feed phase state machine with gap signal annotations.

    ``idle_ttl_ms``: per-key state eviction for unbounded key spaces. The
    default (None) keeps state per feed forever — correct for the
    reference's bounded feed set, unbounded at 100k+ churning keys (the
    state-store audit in SCALE.md measures the growth). With a TTL, a
    feed that stays idle for ``idle_ttl_ms`` has its state REMOVED (phase
    detection restarts from UNKNOWN if the feed returns) — the standard
    idle-session eviction policy; pick a TTL above the feed's heartbeat
    cadence (gap_watchdog covers the in-stream gap semantics below that
    horizon).

    ``ttl_mode``: 'processing' measures idleness on the wall clock (live
    ingest; needs a periodic trigger since timers fire continuous
    micro-batches); 'event' anchors the deadline at the key's last event
    time and expires it when the WATERMARK (derived from ts_ms with
    ``watermark_delay``) passes — the replay/backfill policy, fully
    data-driven and deterministic under re-run.
    """
    if idle_ttl_ms is None:
        return _apply_stateful(
            ticks, phase_machine_fn, PHASE_OUTPUT_SCHEMA, PHASE_STATE_SCHEMA,
            None, ttl_mode, watermark_delay,
        )
    fn = _ttl_wrapped(
        phase_machine_fn,
        lambda _key, _st: [],  # an evicted phase key has no output rows
        _PHASE_COLS,
        _PHASE_LAST_TS_IDX,
        idle_ttl_ms,
        ttl_mode,
    )
    return _apply_stateful(
        ticks, fn, PHASE_OUTPUT_SCHEMA, PHASE_STATE_SCHEMA,
        idle_ttl_ms, ttl_mode, watermark_delay,
    )


def sessionize_games(
    ticks: DataFrame,
    idle_ttl_ms: int | None = None,
    ttl_mode: str = "processing",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """T2+T3: episode finalization on gameId boundary with partialPrices
    backfill. Emission is boundary-driven (the rug broadcast), not
    watermark-driven — the reference's policy (SURVEY §7 hard-part 5).

    ``idle_ttl_ms``: idle-key eviction. The boundary-driven emit bounds a
    key's state to ONE in-flight game, but a feed whose rug broadcast
    never arrives (crashed source, abandoned game) pins its partial game
    forever, and the KEY itself lives forever either way — unbounded
    key-churn needs a horizon (the reference's analog is the
    price_history_handler dropping feeds on disconnect). With a TTL, an
    idle key's partial game is FINALIZED (flushed downstream with
    whatever ticks arrived — same rule as the game-boundary flush) and
    its state removed. ``ttl_mode``: see phase_machine — 'event' rides
    the watermark (replay-deterministic), 'processing' the wall clock.
    """
    if idle_ttl_ms is None:
        return _apply_stateful(
            ticks, sessionize_fn, SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA,
            None, ttl_mode, watermark_delay,
        )
    fn = _ttl_wrapped(
        sessionize_fn,
        _flush_session_state,
        _SESSION_COLS,
        _SESSION_LAST_TS_IDX,
        idle_ttl_ms,
        ttl_mode,
    )
    return _apply_stateful(
        ticks, fn, SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA,
        idle_ttl_ms, ttl_mode, watermark_delay,
    )
