"""Seeded input generators for the three workloads.

Everything here is plain numpy/pandas/pyarrow: the program under test
never sees the generator, only the files or frames it writes. Each
generator also returns its ground truth (what it planted), which the
checks compare the program's outputs against. The same seed gives the
same inputs, byte for byte; sizes (total rows, games, feeds, documents)
are fixed and do not depend on the seed, so every seed does the same
amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# lake_analytics
# ---------------------------------------------------------------------------

LAKE_GAMES = 120
LAKE_TICKS = 16_000  # game_tick rows, split over the games heavy-tailed
LAKE_ACTIONS = 4_000  # player_action rows
LAKE_PLAYERS = 200
LAKE_ZIPF_S = 1.1
LAKE_TRUNCATED_DOCS = 12  # extra, shorter complete_game rows (best-row dedup)
LAKE_BASE = dt.datetime(2026, 3, 1, 22, 0, 0, tzinfo=dt.timezone.utc)
TICK_MS = 250
GAME_GAP_S = 600  # two dates' worth of games

ENVELOPE_COLUMNS = [
    "ts", "source", "doc_type", "session_id", "seq", "direction", "raw_json",
    "game_id", "player_id", "username", "event_name", "price", "tick",
    "action_type", "cash", "position_qty",
]


def heavy_tailed_lengths(rng: np.random.Generator, n: int, total: int, minimum: int) -> np.ndarray:
    """n lognormal lengths (sigma 1) rescaled to sum to exactly `total`,
    each at least `minimum` — the tail varies by seed, the work does not."""
    raw = rng.lognormal(0.0, 1.0, n)
    share = raw / raw.sum() * (total - n * minimum)
    lengths = np.floor(share).astype(np.int64)
    rest = total - n * minimum - int(lengths.sum())
    lengths[np.argsort(-(share - lengths), kind="stable")[:rest]] += 1
    return lengths + minimum


def price_path(rng: np.random.Generator, n: int) -> list[float]:
    """Multiplicative walk from 1.0 with a planted rug on the last tick,
    every price on the 6-decimal grid the lake stores as a string."""
    steps = rng.normal(0.004, 0.03, n - 2)
    walk = np.concatenate([[1.0], np.exp(np.cumsum(steps))])
    walk = np.round(np.maximum(walk, 0.01), 6)
    rug = max(round(float(walk[-1]) * 0.01, 6), 1e-6)
    return [float(x) for x in walk] + [rug]


def _iso(ms: int) -> str:
    t = LAKE_BASE + dt.timedelta(milliseconds=int(ms))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def lake_inputs(seed: int) -> dict:
    """Envelope rows for game_tick / player_action / complete_game plus the
    planted truth: per-game prices, sidebets, per-player activity."""
    rng = np.random.default_rng([seed, 1])
    lengths = heavy_tailed_lengths(rng, LAKE_GAMES, LAKE_TICKS, 3)
    game_ids = [f"g{seed % 1000:03d}-{i:04d}" for i in range(LAKE_GAMES)]
    players = [f"p{i:04d}" for i in range(LAKE_PLAYERS)]
    pweights = zipf_weights(LAKE_PLAYERS, LAKE_ZIPF_S)

    rows = []  # (ts_ms, kind_order, dict)
    games = {}
    start_ms = 0
    for gid, n in zip(game_ids, lengths):
        n = int(n)
        prices = price_path(rng, n)
        for t, p in enumerate(prices):
            ms = start_ms + t * TICK_MS
            rows.append((ms, 0, {
                "doc_type": "game_tick", "game_id": gid, "price": f"{p:.6f}",
                "tick": t, "event_name": "gameStateUpdate",
                "raw_json": json.dumps({"gameId": gid, "tickCount": t, "price": p}),
            }))
        n_sb = int(rng.poisson(1.5))
        sidebets = []
        for _ in range(n_sb):
            start = int(rng.integers(0, n))
            end = None if rng.random() < 0.3 else start + 40
            pid = players[int(rng.choice(LAKE_PLAYERS, p=pweights))]
            sidebets.append({
                "playerId": pid, "username": "u" + pid, "type": "sidebet",
                "betAmount": round(float(rng.uniform(0.001, 0.05)), 3),
                "xPayout": 5, "startedAtTick": start, "end": end,
            })
        end_ms = start_ms + n * TICK_MS
        doc = {
            "id": gid, "timestamp": end_ms, "gameVersion": "v3", "rugged": True,
            "peakMultiplier": max(prices), "prices": prices,
            "provablyFair": {"serverSeed": f"seed-{gid}", "serverSeedHash": f"hash-{gid}"},
            "globalSidebets": sidebets,
        }
        rows.append((end_ms + 1000, 2, {
            "doc_type": "complete_game", "game_id": gid, "raw_json": json.dumps(doc),
            "event_name": "gameHistory",
        }))
        games[gid] = {"n": n, "prices": prices, "start_ms": start_ms, "sidebets": sidebets,
                      "doc": doc}
        start_ms = end_ms + GAME_GAP_S * 1000

    # a few games also have an earlier, truncated history document that
    # load_games' best-row dedup must discard
    for gid in rng.choice(game_ids, LAKE_TRUNCATED_DOCS, replace=False):
        g = games[str(gid)]
        short = dict(g["doc"], prices=None)
        short["prices"] = g["prices"][: max(2, g["n"] // 2)]
        rows.append((g["start_ms"] + g["n"] * TICK_MS + 500, 2, {
            "doc_type": "complete_game", "game_id": str(gid),
            "raw_json": json.dumps(short), "event_name": "gameHistory",
        }))

    gidx = rng.integers(0, LAKE_GAMES, LAKE_ACTIONS)
    pidx = rng.choice(LAKE_PLAYERS, LAKE_ACTIONS, p=pweights)
    kinds = np.array(["buy", "sell", "sidebet"])[rng.integers(0, 3, LAKE_ACTIONS)]
    for gi, pi, kind in zip(gidx, pidx, kinds):
        g = games[game_ids[gi]]
        t = int(rng.integers(0, g["n"]))
        pid = players[pi]
        rows.append((g["start_ms"] + t * TICK_MS + int(rng.integers(1, TICK_MS)), 1, {
            "doc_type": "player_action", "game_id": game_ids[gi], "player_id": pid,
            "username": "u" + pid, "action_type": str(kind), "tick": t,
            "event_name": "playerAction",
            "cash": f"{rng.uniform(0, 10):.6f}", "position_qty": f"{rng.uniform(0, 1):.6f}",
            "raw_json": json.dumps({"playerId": pid, "type": str(kind), "tick": t}),
        }))

    rows.sort(key=lambda r: (r[0], r[1]))
    recs = []
    for seq, (ms, _k, d) in enumerate(rows):
        rec = dict.fromkeys(ENVELOPE_COLUMNS)
        rec.update(d)
        rec.update(ts=_iso(ms), source="public_ws", session_id="sess-0", seq=seq,
                   direction="received")
        recs.append(rec)
    envelope = pd.DataFrame(recs, columns=ENVELOPE_COLUMNS)
    envelope["tick"] = envelope["tick"].astype("Int64")
    return {"envelope": envelope, "games": games, "players": players}


def lookup_plan(lake: dict, n_calls: int = 100) -> list[tuple]:
    """The interactive client's closed-loop call list: the eight lookups
    in turn, `n_calls` in all. Games and players are picked by rank (of
    game length, of player activity) on a fixed spread of ranks, so every
    seed asks for work of the same size; which game or player holds a
    rank depends on the seed."""
    by_len = sorted(lake["games"], key=lambda g: (lake["games"][g]["n"], g))
    players = lake["players"]  # p0000 is the most active
    doc_types = ["game_tick", "player_action", "complete_game"]
    kinds = ["game_episode", "episodes_batch", "get_player_games", "get_player_actions",
             "player_events", "count_events", "query", "iter_episodes"]
    calls = []
    for i in range(n_calls):
        kind, r = kinds[i % len(kinds)], i // len(kinds)
        frac = (r * 0.382 + 0.13) % 1.0  # low-discrepancy walk over ranks
        if kind in ("game_episode", "query"):
            arg = by_len[int(frac * len(by_len))]
        elif kind == "episodes_batch":
            arg = [by_len[int(((frac + k * 0.2) % 1.0) * len(by_len))] for k in range(5)]
        elif kind == "count_events":
            arg = doc_types[r % 3]
        elif kind == "iter_episodes":
            arg = 3
        else:
            arg = players[int(frac * len(players))]
        calls.append((kind, arg))
    return calls


# ---------------------------------------------------------------------------
# live_ingest
# ---------------------------------------------------------------------------

INGEST_FEEDS = 4
INGEST_GAMES_PER_FEED = 6  # checked games; each feed also ends on a flush game
INGEST_TICKS_PER_FEED = 600
INGEST_FILES_PER_FEED = 3
INGEST_BASE_MS = 1_772_400_000_000  # 2026-03-01T21:20:00Z


def _gsu(data: dict) -> str:
    return "42" + json.dumps(["gameStateUpdate", data])


def feed_frames(rng: np.random.Generator, feed: str, n_games: int, total_ticks: int) -> dict:
    """One feed's frame sequence: per game cooldown and presale frames,
    active ticks (some missed and later repaired by partialPrices), the
    rug broadcast; pings, other events and malformed frames in between.
    The last game only flushes the one before it and is not checked."""
    lengths = list(heavy_tailed_lengths(rng, n_games, total_ticks, 8)) + [2]
    frames = []  # (slot, frame, kind, game_id, phase)
    games = []
    slot = 0

    def emit(frame, kind, gid=None, phase=None):
        nonlocal slot
        frames.append((slot, frame, kind, gid, phase))
        slot += 1

    def noise():
        r = rng.random()
        if r < 0.06:
            emit("2", "ping")
        elif r < 0.09:
            emit("42" + json.dumps(["newTrade", {"id": int(rng.integers(1e9))}]), "other")
        elif r < 0.10:
            emit(["42[\"gameStateUpdate\", {\"gameId\": ", "9junk", "", "4"][int(rng.integers(0, 4))],
                 "garbage")

    for gi, n in enumerate(lengths):
        n = int(n)
        gid = f"{feed}-g{gi:03d}"
        seed_hash = f"h-{gid}"
        base = {"gameId": gid, "provablyFair": {"serverSeedHash": seed_hash}}
        for c in (3, 2, 1):
            emit(_gsu({**base, "active": False, "rugged": False, "price": 1.0, "tickCount": 0,
                       "cooldownTimer": c * 1000, "allowPreRoundBuys": False}),
                 "tick", gid, "COOLDOWN")
            noise()
        for _ in range(2):
            emit(_gsu({**base, "active": False, "rugged": False, "price": 1.0, "tickCount": 0,
                       "cooldownTimer": 0, "allowPreRoundBuys": True}), "tick", gid, "PRESALE")
        prices = price_path(rng, n) if n >= 3 else [1.0] * n
        missed: set[int] = set()
        if n >= 12 and rng.random() < 0.5:
            a = int(rng.integers(2, n - 6))
            missed = set(range(a, a + int(rng.integers(1, 4))))
        pending: list[int] = []
        for t, p in enumerate(prices):
            if t in missed:
                pending.append(t)
                slot += 1  # the frame was never delivered: a gap in time
                continue
            d = {**base, "active": True, "rugged": False, "price": p, "tickCount": t,
                 "cooldownTimer": 0, "allowPreRoundBuys": False}
            if pending:
                window = sorted(set(pending) | {pending[0] - 1, pending[0] - 2})
                d["partialPrices"] = {"startTick": window[0], "endTick": window[-1],
                                      "values": {str(k): prices[k] for k in window}}
                pending = []
            emit(_gsu(d), "tick", gid, "ACTIVE")
            noise()
        seed = f"s-{gid}"
        emit(_gsu({**base, "provablyFair": {"serverSeedHash": seed_hash, "serverSeed": seed},
                   "active": False, "rugged": True, "price": prices[-1], "tickCount": n - 1,
                   "cooldownTimer": 0, "allowPreRoundBuys": False}), "tick", gid, "RUGGED")
        games.append({"game_id": gid, "n_ticks": n, "prices": prices, "server_seed": seed,
                      "n_backfilled": len(missed)})
    return {"frames": frames, "games": games}


# Frames with no transport metadata: game gA (6 ticks) then gB (4 ticks),
# then one tick of gC that flushes gB. Fixed — it does not depend on the
# seed, so its outcome repeats exactly run to run.
FRAMES_ONLY_GAMES = (("fo-gA", 6), ("fo-gB", 4), ("fo-gC", 1))


def frames_only_feed() -> dict:
    frames, games = [], []
    for gid, n in FRAMES_ONLY_GAMES:
        prices = [round(1.0 + 0.1 * t, 6) for t in range(n)]
        for t, p in enumerate(prices):
            frames.append(_gsu({"gameId": gid, "active": True, "rugged": False, "price": p,
                                "tickCount": t, "cooldownTimer": 0,
                                "allowPreRoundBuys": False}))
        seed = f"s-{gid}"
        if n > 1:
            frames.append(_gsu({"gameId": gid, "active": False, "rugged": True,
                                "price": prices[-1], "tickCount": n - 1,
                                "provablyFair": {"serverSeed": seed}}))
        games.append({"game_id": gid, "n_ticks": n, "prices": prices, "server_seed": seed,
                      "n_backfilled": 0})
    return {"frames": frames, "games": games[:-1]}


def ingest_inputs(seed: int, root: str) -> dict:
    """Writes the backlog under `root`: one directory of Kafka-record
    parquet files per feed (offset = seq, log-append time = ts_ms), and
    one plain-text file of frames for the frames-only feed. File mtimes
    increase in offset order so the file source drains them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    feeds = {}
    mtime = 1_700_000_000
    for f in range(INGEST_FEEDS):
        name = f"feed{f}"
        fd = feed_frames(rng, name, INGEST_GAMES_PER_FEED, INGEST_TICKS_PER_FEED)
        frames = fd["frames"]
        offsets = np.arange(len(frames), dtype=np.int64)
        ts = np.array([INGEST_BASE_MS + s * TICK_MS for s, *_ in frames], dtype=np.int64)
        d = os.path.join(root, name)
        os.makedirs(d)
        bounds = np.linspace(0, len(frames), INGEST_FILES_PER_FEED + 1).astype(int)
        for i in range(INGEST_FILES_PER_FEED):
            lo, hi = bounds[i], bounds[i + 1]
            table = pa.table({
                "key": pa.nulls(hi - lo, pa.binary()),
                "value": pa.array([fr[1].encode() for fr in frames[lo:hi]], pa.binary()),
                "topic": pa.array([name] * (hi - lo)),
                "partition": pa.array([0] * (hi - lo), pa.int32()),
                "offset": pa.array(offsets[lo:hi]),
                "timestamp": pa.array(ts[lo:hi], pa.timestamp("ms", tz="UTC")),
                "timestampType": pa.array([1] * (hi - lo), pa.int32()),
            })
            path = os.path.join(d, f"part-{i:04d}.parquet")
            pq.write_table(table, path)
            mtime += 10
            os.utime(path, (mtime, mtime))
        feeds[name] = {
            "dir": d,
            "games": fd["games"][:-1],
            "ticks": pd.DataFrame(
                [(int(o), gid, ph) for o, (_s, _fr, kind, gid, ph) in zip(offsets, frames)
                 if kind == "tick"],
                columns=["seq", "game_id", "phase"]),
            "n_frames": len(frames),
        }
    fo = frames_only_feed()
    d = os.path.join(root, "frames_only")
    os.makedirs(d)
    with open(os.path.join(d, "frames.txt"), "w") as fh:
        fh.write("\n".join(fo["frames"]) + "\n")
    return {"feeds": feeds, "frames_only": {"dir": d, "games": fo["games"]}}


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

CORPUS_BASE_DOCS = 2_000
CORPUS_VOCAB = 30_000
CORPUS_DUP_SHARE = 0.15  # base docs that get 1-3 exact copies
CORPUS_NEAR_SHARE = 0.12  # base docs that get a one-word-edit variant
CORPUS_QUERIES = 64


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


def _respace(rng: np.random.Generator, words: list[str]) -> str:
    """The same words with extra spaces: equal under the program's
    fingerprint normalization and under whitespace tokenization."""
    gaps = [" " * int(rng.integers(1, 3)) for _ in words[1:]]
    return " " + "".join(w + g for w, g in zip(words, gaps + [""])) + "  "


def corpus_inputs(seed: int) -> dict:
    """Documents with planted exact-duplicate groups (some copies differ
    only in spacing) and one-word-edit near duplicates; doc ids are
    shuffled so ids say nothing about the groups."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, CORPUS_VOCAB)
    texts, group_of = [], []  # group = index of the base text a doc copies
    bases = []
    for b in range(CORPUS_BASE_DOCS):
        words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(25, 61)))]
        bases.append(words)
        texts.append(" ".join(words))
        group_of.append(b)
    n_groups = CORPUS_BASE_DOCS
    near_of = {}  # near-dup group -> base group
    for b in rng.choice(CORPUS_BASE_DOCS, int(CORPUS_DUP_SHARE * CORPUS_BASE_DOCS), replace=False):
        for _ in range(int(rng.integers(1, 4))):
            spaced = rng.random() < 0.5
            texts.append(_respace(rng, bases[b]) if spaced else " ".join(bases[b]))
            group_of.append(int(b))
    for b in rng.choice(CORPUS_BASE_DOCS, int(CORPUS_NEAR_SHARE * CORPUS_BASE_DOCS), replace=False):
        words = list(bases[b])
        pos = int(rng.integers(0, len(words)))
        new = words[pos]
        while new == words[pos]:
            new = vocab[int(rng.integers(0, len(vocab)))]
        words[pos] = new
        texts.append(" ".join(words))
        group_of.append(n_groups)
        near_of[n_groups] = int(b)
        n_groups += 1
    ids = rng.permutation(len(texts)).astype(np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    members: dict[int, list[int]] = {}
    for i, g in zip(ids, group_of):
        members.setdefault(g, []).append(int(i))
    pairs = set()
    for ms in members.values():
        ms = sorted(ms)
        pairs |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1:]}
    for ng, b in near_of.items():
        pairs |= {(min(a, c), max(a, c)) for a in members[ng] for c in members[b]}
    dup_groups = [g for g, ms in members.items() if len(ms) > 1]
    qpick = [int(g) for g in rng.choice(dup_groups, CORPUS_QUERIES // 2, replace=False)]
    rest = np.setdiff1d(np.arange(CORPUS_BASE_DOCS), qpick)
    qpick += [int(g) for g in rng.choice(rest, CORPUS_QUERIES - len(qpick), replace=False)]
    queries = sorted(min(members[g]) for g in qpick)
    return {"docs": docs, "groups": members, "planted_pairs": pairs, "queries": queries}
