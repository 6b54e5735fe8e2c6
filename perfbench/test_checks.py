"""Tests of the benchmark itself: each check accepts a correct output and
rejects a corrupted one, and the generators are deterministic per seed.

    python3 -m pytest perfbench -q

No Spark session is needed: the "correct" outputs are built from the
generators' ground truth.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def lake():
    return gen.lake_inputs(11)


@pytest.fixture(scope="module")
def corpus():
    return gen.corpus_inputs(11)


# -- generators ---------------------------------------------------------------


def test_generators_repeat_per_seed(tmp_path):
    a, b = gen.lake_inputs(5), gen.lake_inputs(5)
    pd.testing.assert_frame_equal(a["envelope"], b["envelope"])
    assert gen.lookup_plan(a) == gen.lookup_plan(b)
    assert not a["envelope"].equals(gen.lake_inputs(6)["envelope"])
    c, d = gen.corpus_inputs(5), gen.corpus_inputs(5)
    pd.testing.assert_frame_equal(c["docs"], d["docs"])
    assert c["planted_pairs"] == d["planted_pairs"] and c["queries"] == d["queries"]
    i1 = gen.ingest_inputs(5, str(tmp_path / "a"))
    i2 = gen.ingest_inputs(5, str(tmp_path / "b"))
    for name in i1["feeds"]:
        pd.testing.assert_frame_equal(i1["feeds"][name]["ticks"], i2["feeds"][name]["ticks"])
        for f in sorted(os.listdir(i1["feeds"][name]["dir"])):
            with open(os.path.join(i1["feeds"][name]["dir"], f), "rb") as x, \
                    open(os.path.join(i2["feeds"][name]["dir"], f), "rb") as y:
                assert x.read() == y.read()


def test_sizes_do_not_depend_on_seed(tmp_path):
    for seed in (1, 2):
        env = gen.lake_inputs(seed)["envelope"]
        counts = env.groupby("doc_type").size().to_dict()
        assert counts == {"game_tick": gen.LAKE_TICKS, "player_action": gen.LAKE_ACTIONS,
                          "complete_game": gen.LAKE_GAMES + gen.LAKE_TRUNCATED_DOCS}
        ing = gen.ingest_inputs(seed, str(tmp_path / str(seed)))
        assert [len(f["games"]) for f in ing["feeds"].values()] == \
            [gen.INGEST_GAMES_PER_FEED] * gen.INGEST_FEEDS


# -- lake_analytics -------------------------------------------------------------


def _write_lake(env: pd.DataFrame, root) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    env = env.assign(date=env["ts"].str[:10])
    for (dt, day), part in env.groupby(["doc_type", "date"]):
        d = root / f"doc_type={dt}" / f"date={day}"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pandas(part.drop(columns=["doc_type", "date"]),
                                            preserve_index=False), d / "part-0.parquet")
    return str(root)


def test_tick_features_check(lake, tmp_path):
    want = checks.duckdb_tick_features(_write_lake(lake["envelope"], tmp_path / "lake"))
    assert len(want) == gen.LAKE_TICKS
    got = want.copy()
    assert checks.check_tick_features(got, want) == []
    assert checks.check_tick_features(got.drop(index=got.index[7]), want)
    bumped = got.copy()
    bumped.loc[bumped.index[9], "volatility_5"] += 1e-5
    assert checks.check_tick_features(bumped, want)
    assert checks.check_tick_features(pd.concat([got, got.iloc[[3]]]), want)


def test_lake_row_checks(lake):
    env, games = lake["envelope"], lake["games"]
    counts = env.groupby("doc_type")["ts"].agg(n="count", first_ts="min", last_ts="max")
    counts = counts.reset_index()
    assert checks.check_doc_type_counts(counts, env) == []
    dup = counts.copy()
    dup.loc[0, "n"] += 1  # one lake row written twice
    assert checks.check_doc_type_counts(dup, env)

    qual = pd.DataFrame([(g, v["n"]) for g, v in games.items() if v["n"] >= 10],
                        columns=["game_id", "tick_count"])
    assert checks.check_qualifying(qual, games, 10) == []
    assert checks.check_qualifying(qual.iloc[1:], games, 10)


def _games_frame(games):
    rows = []
    for gid, g in games.items():
        p = np.asarray(g["prices"])
        rows.append((gid, g["n"], list(g["prices"]), float(p.max()),
                     int(np.argmax(p[:-1] - p[1:])) + 1))
    return pd.DataFrame(rows, columns=["game_id", "duration_ticks", "prices",
                                       "peak_multiplier", "rug_tick"])


def _sidebets_frame(games):
    rows = []
    for gid, g in games.items():
        for b in g["sidebets"]:
            end = b["end"] if b["end"] is not None else b["startedAtTick"] + 40
            rows.append((gid, b["playerId"], b["startedAtTick"],
                         b["startedAtTick"] < g["n"] <= end))
    return pd.DataFrame(rows, columns=["game_id", "player_id", "start_tick", "bet_won"])


def test_games_and_sidebets_checks(lake):
    games = lake["games"]
    gf, sb = _games_frame(games), _sidebets_frame(games)
    assert checks.check_games(gf, games) == [] and checks.check_sidebets(sb, games) == []
    bad = gf.copy()
    bad.loc[0, "rug_tick"] += 1
    assert checks.check_games(bad, games)
    assert checks.check_games(gf.iloc[1:], games)
    flipped = sb.copy()
    flipped.loc[0, "bet_won"] = not flipped.loc[0, "bet_won"]
    assert checks.check_sidebets(flipped, games)
    assert checks.check_sidebets(sb.iloc[1:], games)


def test_survival_checks(lake):
    d = np.array([g["n"] for g in lake["games"].values()])
    km = checks.km_numpy(d)
    assert checks.check_km(km.round(6), d) == []
    bad = km.copy()
    bad.loc[3, "survival"] = bad.loc[2, "survival"] + 0.01  # increases
    assert checks.check_km(bad, d)
    assert checks.check_km(km.iloc[1:], d)
    h = km["events"] / km["at_risk"]
    hz = pd.DataFrame({"t": km["t"], "hazard": h.round(6),
                       "hazard_smoothed": (np.convolve(h, np.ones(10), "same") / 10).round(6)})
    assert checks.check_hazard(hz, d) == []
    hz.loc[5, "hazard_smoothed"] += 1e-4
    assert checks.check_hazard(hz, d)


def test_montecarlo_and_backtest_checks(lake):
    rng = np.random.default_rng(0)
    per = pd.DataFrame({"iteration": np.arange(50), "final_bankroll": rng.normal(100, 9, 50),
                        "ruined": rng.random(50) < 0.2})
    summary = {"n_iterations": 50, "mean_final": round(per["final_bankroll"].mean(), 6),
               "p_ruin": round(per["ruined"].mean(), 6)}
    assert checks.check_montecarlo(per, summary, 50) == []
    assert checks.check_montecarlo(per, dict(summary, mean_final=summary["mean_final"] + 1e-3),
                                   50)
    assert checks.check_montecarlo(per.iloc[1:], summary, 50)

    games = lake["games"]
    bt = pd.DataFrame([(g, v["n"], 3, 1) for g, v in games.items()],
                      columns=["game_id", "n_ticks", "n_bets", "n_wins"])
    assert checks.check_backtest(bt, games) == []
    bad = bt.copy()
    bad.loc[0, "n_wins"] = 4
    assert checks.check_backtest(bad, games)
    bad = bt.copy()
    bad.loc[0, "n_ticks"] += 1
    assert checks.check_backtest(bad, games)


def test_lookup_check(lake):
    truth = checks.LakeTruth(lake["envelope"])
    for kind, arg in gen.lookup_plan(lake, 16):
        want = truth.expect(kind, arg)
        assert checks.check_lookup(kind, arg, want, truth) == []
        if isinstance(want, int):
            assert checks.check_lookup(kind, arg, want + 1, truth)
        elif want:
            assert checks.check_lookup(kind, arg, want[1:], truth)  # a dropped row


# -- live_ingest ----------------------------------------------------------------


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    ing = gen.ingest_inputs(11, str(tmp_path_factory.mktemp("backlog")))
    return ing["feeds"]["feed0"]


def _phase_rows(feed):
    t = feed["ticks"]
    ordinal = {g: i + 1 for i, g in enumerate(dict.fromkeys(t["game_id"]))}
    return t.assign(games_seen=t["game_id"].map(ordinal))


def test_phase_check(feed):
    rows = _phase_rows(feed)
    assert checks.check_feed_phases(rows, feed["ticks"], feed["games"]) == {}
    assert checks.check_feed_phases(rows.drop(index=rows.index[20]), feed["ticks"],
                                    feed["games"])
    assert checks.check_feed_phases(pd.concat([rows, rows.iloc[[20]]]), feed["ticks"],
                                    feed["games"])
    bad = rows.copy()
    bad.loc[bad.index[20], "phase"] = "RUGGED"
    assert checks.check_feed_phases(bad, feed["ticks"], feed["games"])
    extra = pd.concat([rows, rows.iloc[[0]].assign(seq=10**9)])
    assert checks.check_feed_phases(extra, feed["ticks"], feed["games"])


def test_session_check(feed):
    rows = pd.DataFrame(feed["games"])
    assert checks.check_sessions(rows, feed["games"]) == {}
    assert checks.check_sessions(rows.iloc[1:], feed["games"])
    assert checks.check_sessions(pd.concat([rows, rows.iloc[[0]]]), feed["games"])
    bad = rows.copy()
    bad.at[0, "prices"] = [p * 1.0001 for p in bad.at[0, "prices"]]
    assert checks.check_sessions(bad, feed["games"])
    assert checks.check_sessions(rows.assign(n_backfilled=rows["n_backfilled"] + 1),
                                 feed["games"])


def test_frames_only_feed_is_fixed():
    assert gen.frames_only_feed() == gen.frames_only_feed()
    assert [g["n_ticks"] for g in gen.frames_only_feed()["games"]] == [6, 4]


# -- corpus_dedup ---------------------------------------------------------------


def test_exact_check(corpus):
    groups = corpus["groups"]
    got = pd.DataFrame([(min(m), len(m)) for m in groups.values()],
                       columns=["keeper_doc_id", "n_dups"])
    assert checks.check_exact(got, groups) == []
    assert checks.check_exact(got.iloc[1:], groups)
    bad = got.copy()
    bad.loc[bad["n_dups"].idxmax(), "n_dups"] -= 1
    assert checks.check_exact(bad, groups)


def test_minhash_check(corpus):
    planted, docs = corpus["planted_pairs"], corpus["docs"]
    got = pd.DataFrame(sorted(planted), columns=["doc_a", "doc_b"])
    problems, recall, stray = checks.minhash_recall(got, planted, docs)
    assert problems == [] and recall == 1.0 and stray == 0
    problems, recall, _ = checks.minhash_recall(got.iloc[10:], planted, docs)
    assert problems == [] and recall < 1.0
    ids = sorted(docs["doc_id"].astype(int))
    unrelated = next((a, b) for a, b in zip(ids, ids[1:]) if (a, b) not in planted)
    wrong = pd.concat([got, pd.DataFrame([unrelated], columns=got.columns)])
    assert checks.minhash_recall(wrong, planted, docs)[0]
    assert checks.minhash_recall(pd.concat([got, got.iloc[[0]]]), planted, docs)[0]


def test_minhash_accepts_a_pair_that_shares_a_band(corpus):
    # LSH reports candidates: a pair outside the planted set passes when a
    # Python MinHash shows it shares a band (here: a planted near-duplicate
    # pair the check is not told about)
    planted, docs = corpus["planted_pairs"], corpus["docs"]
    text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    pair = next(p for p in sorted(planted) if text[p[0]].split() != text[p[1]].split()
                and checks.python_minhash_bands(text[p[0]]) & checks.python_minhash_bands(text[p[1]]))
    got = pd.DataFrame(sorted(planted), columns=["doc_a", "doc_b"])
    problems, _, stray = checks.minhash_recall(got, planted - {pair}, docs)
    assert problems == [] and stray == 1


def test_simhash_check(corpus):
    docs, groups = corpus["docs"], corpus["groups"]
    pairs = sorted((a, b) for m in groups.values() for a in m for b in m if a < b)
    got = pd.DataFrame([(a, b, 0) for a, b in pairs], columns=["doc_a", "doc_b", "hamming"])
    assert checks.check_simhash(got, docs, groups) == []
    assert checks.check_simhash(got.iloc[1:], docs, groups)  # an exact pair dropped
    bad = got.copy()
    bad.loc[0, "hamming"] = 2
    assert checks.check_simhash(bad, docs, groups)
    ids = docs["doc_id"].tolist()
    far = next((a, b) for a, b in zip(ids, ids[1:])
               if bin(checks.python_simhash(docs.text[ids.index(a)])
                      ^ checks.python_simhash(docs.text[ids.index(b)])).count("1") > 3)
    wrong = pd.concat([got, pd.DataFrame([(min(far), max(far), 1)], columns=got.columns)])
    assert checks.check_simhash(wrong, docs, groups)


def test_simhash_matches_known_value():
    # bit i is set iff most distinct tokens' md5 prefix has bit i set
    assert checks.python_simhash("a a a") == int("0cc175b9", 16)
    assert checks.python_simhash("") == 0


def _embed(docs, dim=64):
    import hashlib

    out = []
    for t in docs["text"]:
        v = np.zeros(dim, dtype=np.float32)
        for tok in t.split():
            v[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim] += 1.0
        out.append(v / np.linalg.norm(v))
    return pd.DataFrame({"doc_id": docs["doc_id"], "embedding": out})


def _topk(emb, q, k):
    ids = emb["doc_id"].to_numpy()
    scores, _ = checks.numpy_topk(ids, np.stack(emb["embedding"].to_numpy()), q, k)
    best = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:k]
    return [(q, n, round(s, 6), r + 1) for r, (n, s) in enumerate(best)]


def test_embedding_and_knn_checks(corpus):
    docs = corpus["docs"].iloc[:400]
    emb = _embed(docs)
    assert checks.check_embeddings(emb, len(docs)) == []
    bad = emb.copy()
    bad.at[0, "embedding"] = bad.at[0, "embedding"] * 1.01
    assert checks.check_embeddings(bad, len(docs))

    queries = docs["doc_id"].tolist()[:5]
    got = pd.DataFrame([r for q in queries for r in _topk(emb, q, 5)],
                       columns=["query_id", "neighbor_id", "cosine_sim", "rank"])
    assert checks.check_knn(got, emb, queries, 5) == []
    # swap the best neighbour for a candidate outside the top k
    swapped = got.copy()
    outside = next(i for i in docs["doc_id"] if i not in set(got["neighbor_id"]) | set(queries))
    swapped.loc[0, "neighbor_id"] = outside
    assert checks.check_knn(swapped, emb, queries, 5)
    perturbed = got.copy()
    perturbed.loc[2, "cosine_sim"] += 1e-4
    assert checks.check_knn(perturbed, emb, queries, 5)
