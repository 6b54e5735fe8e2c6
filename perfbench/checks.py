"""Checks made apart from the program.

Every function takes what the program produced in the timed pass (as
pandas / plain Python, no re-execution) plus the generator's ground truth,
and returns a list of problems; an empty list means the output passed.
The expected values are computed here with numpy, pandas, hashlib or
DuckDB — never with the program's own operators.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

TOL = 1e-6


def _close(a, b, tol: float = TOL) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)) \
            or (isinstance(b, float) and math.isnan(b)):
        return (a is None or (isinstance(a, float) and math.isnan(a))) == \
            (b is None or (isinstance(b, float) and math.isnan(b)))
    return abs(float(a) - float(b)) <= tol


# ---------------------------------------------------------------------------
# lake_analytics
# ---------------------------------------------------------------------------

TICK_FEATURES_SQL = """
SELECT game_id, seq,
  CAST(price AS DOUBLE) AS price,
  CAST(price AS DOUBLE) - LAG(CAST(price AS DOUBLE)) OVER w AS price_change,
  (CAST(price AS DOUBLE) - LAG(CAST(price AS DOUBLE)) OVER w)
    / NULLIF(LAG(CAST(price AS DOUBLE)) OVER w, 0) AS pct_change,
  STDDEV(CAST(price AS DOUBLE)) OVER (PARTITION BY game_id ORDER BY seq
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS volatility_5,
  STDDEV(CAST(price AS DOUBLE)) OVER (PARTITION BY game_id ORDER BY seq
    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS volatility_10,
  MAX(CAST(price AS DOUBLE)) OVER (PARTITION BY game_id ORDER BY seq
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_max,
  CAST(price AS DOUBLE) / NULLIF(MAX(CAST(price AS DOUBLE)) OVER (PARTITION BY game_id
    ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - 1 AS drawdown
FROM read_parquet('{lake}/*/*/*.parquet', hive_partitioning = true)
WHERE doc_type = 'game_tick' AND game_id IS NOT NULL
WINDOW w AS (PARTITION BY game_id ORDER BY seq)
"""

FEATURE_COLS = ["price", "price_change", "pct_change", "volatility_5", "volatility_10",
                "running_max", "drawdown"]


def duckdb_tick_features(lake: str) -> pd.DataFrame:
    """The reference's get_tick_features window query, run by DuckDB over
    the hive-partitioned lake the program wrote."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(TICK_FEATURES_SQL.format(lake=lake)).df()
    finally:
        con.close()


def check_tick_features(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"tick_features: {len(got)} rows, DuckDB has {len(want)}"]
    g = got.sort_values(["game_id", "seq"]).reset_index(drop=True)
    w = want.sort_values(["game_id", "seq"]).reset_index(drop=True)
    if not (g["game_id"].tolist() == w["game_id"].tolist()
            and g["seq"].tolist() == w["seq"].tolist()):
        return ["tick_features: (game_id, seq) keys differ from DuckDB"]
    problems = []
    for c in FEATURE_COLS:
        a = pd.to_numeric(g[c], errors="coerce").to_numpy(dtype=float)
        b = pd.to_numeric(w[c], errors="coerce").to_numpy(dtype=float)
        bad = (np.isnan(a) != np.isnan(b)) | (np.abs(np.nan_to_num(a) - np.nan_to_num(b)) > TOL)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"tick_features.{c}: {int(bad.sum())} rows differ, first "
                            f"{g.game_id[i]}/{g.seq[i]}: {a[i]} vs DuckDB {b[i]}")
    return problems


def check_qualifying(got: pd.DataFrame, games: dict, min_ticks: int) -> list[str]:
    want = {g: v["n"] for g, v in games.items() if v["n"] >= min_ticks}
    have = dict(zip(got["game_id"], got["tick_count"].astype(int)))
    if len(have) != len(got):
        return ["qualifying_games: a game appears twice"]
    return [] if have == want else [
        f"qualifying_games: {len(have)} games, expected {len(want)}; "
        f"{sum(have.get(k) != v for k, v in want.items())} differ"]


def check_doc_type_counts(got: pd.DataFrame, envelope: pd.DataFrame) -> list[str]:
    want = envelope.groupby("doc_type")["ts"].agg(["count", "min", "max"])
    problems = []
    if sorted(got["doc_type"]) != sorted(want.index):
        return [f"doc_type_counts: doc types {sorted(got['doc_type'])}"]
    for r in got.itertuples():
        w = want.loc[r.doc_type]
        if (int(r.n), r.first_ts, r.last_ts) != (int(w["count"]), w["min"], w["max"]):
            problems.append(f"doc_type_counts[{r.doc_type}]: {(r.n, r.first_ts, r.last_ts)} vs "
                            f"{(w['count'], w['min'], w['max'])}")
    return problems


def check_games(got: pd.DataFrame, games: dict) -> list[str]:
    """load_games: one row per game with the full (longest) price array,
    its peak and the rug tick (argmax single-tick drop, computed here)."""
    problems = []
    if sorted(got["game_id"]) != sorted(games):
        return [f"load_games: {len(got)} rows for {len(games)} games"]
    for r in got.itertuples():
        g = games[r.game_id]
        p = np.asarray(g["prices"])
        rug = int(np.argmax(p[:-1] - p[1:])) + 1
        if (int(r.duration_ticks) != g["n"] or list(r.prices) != g["prices"]
                or r.peak_multiplier != float(p.max()) or int(r.rug_tick) != rug):
            problems.append(f"load_games[{r.game_id}]: n={r.duration_ticks} rug={r.rug_tick} "
                            f"peak={r.peak_multiplier}; want n={g['n']} rug={rug} peak={p.max()}")
    return problems[:5]


def check_sidebets(got: pd.DataFrame, games: dict) -> list[str]:
    want = {}
    for gid, g in games.items():
        for b in g["sidebets"]:
            end = b["end"] if b["end"] is not None else b["startedAtTick"] + 40
            won = b["startedAtTick"] < g["n"] <= end
            want.setdefault(gid, []).append((b["playerId"], b["startedAtTick"], won))
    have = {}
    for r in got.itertuples():
        have.setdefault(r.game_id, []).append((r.player_id, int(r.start_tick), bool(r.bet_won)))
    want = {k: sorted(v) for k, v in want.items()}
    have = {k: sorted(v) for k, v in have.items()}
    if have == want:
        return []
    diff = [k for k in set(want) | set(have) if want.get(k) != have.get(k)]
    return [f"explode_sidebets: {len(diff)} games differ (count or win label), e.g. {diff[0]}"]


def km_numpy(durations: np.ndarray) -> pd.DataFrame:
    t, events = np.unique(durations, return_counts=True)
    at_risk = events[::-1].cumsum()[::-1]
    survival = np.cumprod(1.0 - events / at_risk)
    return pd.DataFrame({"t": t, "events": events, "at_risk": at_risk, "survival": survival})


def check_km(got: pd.DataFrame, durations: np.ndarray) -> list[str]:
    want = km_numpy(durations)
    g = got.sort_values("t").reset_index(drop=True)
    s = g["survival"].to_numpy(dtype=float)
    problems = []
    if (s < 0).any() or (s > 1).any():
        problems.append("km_survival: survival outside [0, 1]")
    if (np.diff(s) > 0).any():
        problems.append("km_survival: survival increases")
    if len(g) != len(want) or (g["t"].to_numpy() != want["t"].to_numpy()).any():
        return problems + [f"km_survival: {len(g)} distinct durations, numpy has {len(want)}"]
    for c in ("events", "at_risk"):
        if (g[c].to_numpy() != want[c].to_numpy()).any():
            problems.append(f"km_survival.{c} differs from numpy")
    if (np.abs(s - want["survival"].to_numpy()) > TOL).any():
        problems.append("km_survival.survival differs from numpy beyond 1e-6")
    return problems


def check_hazard(got: pd.DataFrame, durations: np.ndarray, bandwidth: int = 10) -> list[str]:
    want = km_numpy(durations)
    h = want["events"].to_numpy() / want["at_risk"].to_numpy()
    smooth = np.convolve(h, np.ones(bandwidth), mode="same") / bandwidth
    g = got.sort_values("t").reset_index(drop=True)
    if len(g) != len(want) or (g["t"].to_numpy() != want["t"].to_numpy()).any():
        return [f"hazard_rate: {len(g)} rows, numpy has {len(want)}"]
    problems = []
    if (np.abs(g["hazard"].to_numpy(dtype=float) - h) > TOL).any():
        problems.append("hazard_rate.hazard differs from numpy beyond 1e-6")
    if len(h) >= bandwidth and (np.abs(g["hazard_smoothed"].to_numpy(dtype=float) - smooth)
                                > TOL).any():
        problems.append("hazard_rate.hazard_smoothed differs from np.convolve beyond 1e-6")
    return problems


def check_montecarlo(per_iteration: pd.DataFrame, summary: dict, n_iterations: int) -> list[str]:
    problems = []
    if len(per_iteration) != n_iterations or per_iteration["iteration"].nunique() != n_iterations:
        problems.append(f"simulate_iterations: {len(per_iteration)} rows, want {n_iterations}")
    if int(summary["n_iterations"]) != len(per_iteration):
        problems.append("summarize_simulation.n_iterations != rows")
    mean = float(np.mean(per_iteration["final_bankroll"].to_numpy(dtype=float)))
    if not _close(summary["mean_final"], mean):
        problems.append(f"summarize_simulation.mean_final {summary['mean_final']} vs numpy {mean}")
    p_ruin = float(per_iteration["ruined"].mean())
    if not _close(summary["p_ruin"], p_ruin):
        problems.append(f"summarize_simulation.p_ruin {summary['p_ruin']} vs numpy {p_ruin}")
    return problems


def check_backtest(got: pd.DataFrame, games: dict) -> list[str]:
    problems = []
    if sorted(got["game_id"]) != sorted(games):
        return [f"replay_backtest: {len(got)} rows for {len(games)} games"]
    if (got["n_wins"] > got["n_bets"]).any():
        problems.append("replay_backtest: n_wins > n_bets")
    bad = [r.game_id for r in got.itertuples() if int(r.n_ticks) != games[r.game_id]["n"]]
    if bad:
        problems.append(f"replay_backtest: n_ticks wrong for {len(bad)} games, e.g. {bad[0]}")
    return problems


class LakeTruth:
    """Expected answers for the interactive lookups, from the generated
    envelope with pandas."""

    def __init__(self, envelope: pd.DataFrame):
        self.env = envelope
        self.by_game = {g: d.sort_values("seq") for g, d in envelope.groupby("game_id")}
        self.actions = envelope[envelope.doc_type == "player_action"]
        self.ticks_per_game = envelope[envelope.doc_type == "game_tick"].groupby("game_id").size()

    def expect(self, kind: str, arg):
        e = self.env
        if kind == "game_episode":
            return self.by_game[arg]["seq"].tolist()
        if kind == "episodes_batch":
            return sorted(e[e.game_id.isin(arg)]["seq"].tolist())
        if kind == "get_player_games":
            a = self.actions[self.actions.player_id == arg]
            g = a.groupby("game_id").agg(n_events=("ts", "size"), first_ts=("ts", "min"),
                                         last_ts=("ts", "max"))
            g = g.sort_values("first_ts").head(100).reset_index()
            return list(map(tuple, g[["game_id", "n_events", "first_ts", "last_ts"]].values))
        if kind == "get_player_actions":
            return self.actions[self.actions.player_id == arg].sort_values("seq")["seq"].head(
                100).tolist()
        if kind == "player_events":
            games = set(self.actions[self.actions.player_id == arg]["game_id"])
            return sorted(e[e.game_id.isin(games)]["seq"].tolist())
        if kind == "count_events":
            return int((e.doc_type == arg).sum())
        if kind == "query":
            d = self.by_game[arg]
            return sorted(d.groupby("doc_type").size().items())
        if kind == "iter_episodes":
            q = sorted(self.ticks_per_game[self.ticks_per_game >= 10].index)[:arg]
            return [(g, self.by_game[g]["seq"].tolist()) for g in q]
        raise ValueError(kind)


def check_lookup(kind: str, arg, got, truth: LakeTruth) -> list[str]:
    want = truth.expect(kind, arg)
    if got == want:
        return []
    return [f"{kind}({arg!r}): result differs from the generated envelope"]


# ---------------------------------------------------------------------------
# live_ingest
# ---------------------------------------------------------------------------


def check_feed_phases(rows: pd.DataFrame, ticks: pd.DataFrame, games: list[dict]) -> dict:
    """Phase-lake rows of one metadata-carrying feed: every delivered
    gameStateUpdate frame exactly once per seq, nothing else, with the
    generator's phase, game id and game ordinal. Returns problems per game."""
    ordinal = {g: i + 1 for i, g in enumerate(dict.fromkeys(ticks["game_id"]))}
    want = ticks.set_index("seq")
    got = rows.set_index("seq")
    out: dict[str, list[str]] = {}
    dup = got.index[got.index.duplicated()]
    extra = got.index.difference(want.index)
    if len(extra):
        out.setdefault("_feed", []).append(f"{len(extra)} rows for frames that carry no tick")
    for gid, w in want.groupby("game_id"):
        p = []
        seqs = w.index
        if len(dup.intersection(seqs)):
            p.append("a frame appears twice")
        missing = seqs.difference(got.index)
        if len(missing):
            p.append(f"{len(missing)} frames lost")
        else:
            g = got.loc[~got.index.duplicated()].loc[seqs]
            if (g["phase"] != w["phase"]).any():
                p.append("phases differ from the schedule")
            if (g["game_id"] != gid).any() or (g["games_seen"] != ordinal[gid]).any():
                p.append("game id or games_seen differs")
        if p:
            out[gid] = p
    return out


def check_sessions(rows: pd.DataFrame, games: list[dict]) -> dict:
    """Session-lake rows of one feed: each checked game finalized exactly
    once with the generated tick count, prices, seed and backfill count."""
    out: dict[str, list[str]] = {}
    by_gid = {g: d for g, d in rows.groupby("game_id")}
    for g in games:
        gid = g["game_id"]
        d = by_gid.get(gid)
        if d is None or len(d) != 1:
            out[gid] = [f"{0 if d is None else len(d)} session rows"]
            continue
        r = d.iloc[0]
        if (int(r.n_ticks) != g["n_ticks"] or list(r.prices) != g["prices"]
                or r.server_seed != g["server_seed"] or int(r.n_backfilled) != g["n_backfilled"]):
            out[gid] = [f"session n_ticks={r.n_ticks} n_backfilled={r.n_backfilled} "
                        f"seed={r.server_seed}; want {g['n_ticks']}/{g['n_backfilled']}/"
                        f"{g['server_seed']}"]
    extra = sorted(set(by_gid) - {g["game_id"] for g in games})
    if extra:  # the feed's last game is never finalized: no game follows it
        out["_feed"] = [f"session rows for unexpected games {extra[:3]}"]
    return out


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def check_exact(got: pd.DataFrame, groups: dict) -> list[str]:
    want = sorted((min(m), len(m)) for m in groups.values())
    have = sorted(zip(got["keeper_doc_id"].astype(int), got["n_dups"].astype(int)))
    if have == want:
        return []
    return [f"exact_duplicates: {len(have)} groups vs {len(want)} planted; "
            f"{len(set(want) ^ set(have))} (keeper, size) entries differ"]


def python_simhash(text: str) -> int:
    """32-bit SimHash over distinct whitespace tokens: bit i is set when
    more tokens' md5 prefixes have bit i set than clear."""
    toks = set(text.strip(" ").split())
    hv = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    fp = 0
    for i in range(32):
        if sum(1 if (v >> i) & 1 else -1 for v in hv) > 0:
            fp |= 1 << i
    return fp


def check_simhash(got: pd.DataFrame, docs: pd.DataFrame, groups: dict, k: int = 3) -> list[str]:
    text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    cache: dict[int, int] = {}

    def fp(i):
        if i not in cache:
            cache[i] = python_simhash(text[i])
        return cache[i]

    problems = []
    pairs = set()
    for a, b, h in zip(got["doc_a"].astype(int), got["doc_b"].astype(int),
                       got["hamming"].astype(int)):
        real = bin(fp(a) ^ fp(b)).count("1")
        if a >= b or real > k or real != h:
            problems.append(f"simhash pair ({a}, {b}): reported {h}, Python SimHash {real}")
            break
        pairs.add((a, b))
    if len(pairs) != len(got):
        problems.append("simhash_neardup_pairs: duplicate pairs")
    for m in groups.values():
        m = sorted(m)
        if any((m[i], m[j]) not in pairs for i in range(len(m)) for j in range(i + 1, len(m))):
            problems.append("simhash_neardup_pairs: an exact-duplicate pair is missing")
            break
    return problems


# The MinHash parameters the program documents (operators/dedup.py): 3-word
# shingles, h = first 8 hex digits of md5(shingle), permutations
# (a*h + b) mod p, 4 bands of 2 rows. Restated here, not imported.
MINHASH_P = 2147483647
MINHASH_AB = ((1299721, 12345), (2750159, 98765), (1203793, 54321), (2102917, 11111),
              (1569619, 77777), (1300171, 33333), (2057731, 99999), (1231231, 13579))


def python_minhash_bands(text: str) -> set:
    toks = text.strip(" ").split()
    shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    hv = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    sig = [min((a * h + b) % MINHASH_P for h in hv) for a, b in MINHASH_AB]
    return {(k, sig[2 * k], sig[2 * k + 1]) for k in range(4)}


def minhash_recall(got: pd.DataFrame, planted: set, docs: pd.DataFrame) -> tuple[list[str], float, int]:
    """Every reported pair must be planted or, failing that, share a band
    under a Python MinHash: LSH reports candidates, and unrelated texts
    whose minima collide are candidates too. Returns (problems, recall of
    the planted pairs, number of reported pairs that were not planted)."""
    pairs = set(zip(got["doc_a"].astype(int), got["doc_b"].astype(int)))
    problems = []
    if len(pairs) != len(got):
        problems.append("minhash_lsh_pairs: duplicate pairs")
    stray = pairs - planted
    if stray:
        text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
        unjustified = [(a, b) for a, b in sorted(stray)
                       if not python_minhash_bands(text[a]) & python_minhash_bands(text[b])]
        if unjustified:
            problems.append(f"minhash_lsh_pairs: {len(unjustified)} pairs neither planted nor "
                            f"sharing a band, e.g. {unjustified[0]}")
    recall = len(pairs & planted) / len(planted)
    return problems, recall, len(stray)


def check_embeddings(got: pd.DataFrame, n_docs: int) -> list[str]:
    if len(got) != n_docs:
        return [f"embed_chunks: {len(got)} rows for {n_docs} docs"]
    m = np.stack(got["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    bad = np.abs(norms - 1.0) > 1e-5
    return [f"embed_chunks: {int(bad.sum())} embeddings without unit norm"] if bad.any() else []


def numpy_topk(ids: np.ndarray, vecs: np.ndarray, qid: int, k: int) -> tuple[dict, float]:
    """Cosine of query `qid` against every other vector in float64, and
    the k-th best score."""
    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    qi = int(np.nonzero(ids == qid)[0][0])
    cos = v @ v[qi] / (norms * norms[qi])
    cos[qi] = -np.inf
    scores = dict(zip(ids.tolist(), cos.tolist()))
    kth = float(np.sort(cos)[::-1][k - 1])
    return scores, kth


def check_knn(got: pd.DataFrame, emb: pd.DataFrame, queries: list[int], k: int) -> list[str]:
    """Tie-aware: each returned neighbour's score equals the float64
    cosine, no returned neighbour scores below the k-th best, and every
    neighbour scoring clearly above the k-th best is returned."""
    ids = emb["doc_id"].to_numpy(dtype=np.int64)
    vecs = np.stack(emb["embedding"].to_numpy())
    problems = []
    for q in queries:
        rows = got[got["query_id"] == q].sort_values("rank")
        scores, kth = numpy_topk(ids, vecs, q, k)
        if len(rows) != k or rows["rank"].tolist() != list(range(1, k + 1)):
            problems.append(f"knn[{q}]: {len(rows)} neighbours, want {k}")
            continue
        nb = rows["neighbor_id"].astype(int).tolist()
        if len(set(nb)) != k or q in nb:
            problems.append(f"knn[{q}]: repeated neighbour or self")
            continue
        for n, s in zip(nb, rows["cosine_sim"]):
            if abs(scores[n] - s) > TOL or scores[n] < kth - TOL:
                problems.append(f"knn[{q}]: neighbour {n} scored {s}, float64 {scores[n]}, "
                                f"k-th best {kth}")
                break
        must = {i for i, s in scores.items() if s > kth + TOL}
        if not must <= set(nb):
            problems.append(f"knn[{q}]: missing {sorted(must - set(nb))[:3]}")
    return problems
