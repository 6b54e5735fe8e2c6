#!/usr/bin/env python3
"""End-to-end benchmark of vectra_player_spark.

    python3 perfbench/run.py --workload lake_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives the program through its public functions, checks every
result apart from the program (perfbench/checks.py), and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads, metrics and reference figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("lake_analytics", "live_ingest", "corpus_dedup")
DRIVER_MEMORY = "1g"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]); 0 with no samples, as for a
    layer the run did not reach (its operations failed)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def median(xs: list[float]) -> float:
    """Median of a per-layer sample; 0 with no samples (see `percentile`)."""
    return statistics.median(xs) if xs else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Run:
    """What every workload shares: the session, spans, operation counts."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = tracing.Tracer(self.traced)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.group_wall: dict[str, float] = {}
        self.group_alias: dict[str, str] = {}  # event-log job group -> operation

    def op(self, name: str, fn, group: str | None = None):
        """One operation: counted, timed in a span, its job group tagged in
        traced runs; an exception counts it failed and the run goes on."""
        self.attempted += 1
        if self.traced:
            self.spark.sparkContext.setJobGroup(group or name, name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, new_trace=True):
                return fn()
        except Exception:  # noqa: BLE001 — a failed operation must not end the run
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            g = group or name
            self.group_wall[g] = self.group_wall.get(g, 0.0) + time.perf_counter() - t0

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)


# ---------------------------------------------------------------------------
# lake_analytics
# ---------------------------------------------------------------------------


class LakeAnalytics:
    MIN_TICKS = 10
    SIM_ITERATIONS = 2000
    SPARK_OPS = ("tick_features", "load_games", "replay_backtest", "simulate", "lookups")

    def __init__(self, run: Run):
        self.run = run
        self.lake = os.path.join(run.work, "event_lake")
        self.latencies: dict[str, list[float]] = {}
        self.iter_rows = 0
        self.iter_s = 0.0
        self.duck = None

    def generate(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.data = gen.lake_inputs(self.run.seed)
        self.calls = gen.lookup_plan(self.data)
        # the raw events the ingest job reads, as a recorder would leave them
        self.raw = os.path.join(self.run.work, "raw_events.parquet")
        pq.write_table(pa.Table.from_pandas(self.data["envelope"], preserve_index=False),
                       self.raw)

    def setup(self):
        from vectra_player_spark.sources.event_lake import normalize_envelope, write_event_lake

        with self.run.tracer.span("event_lake.write", new_trace=True):
            raw = self.run.spark.read.parquet(self.raw)
            write_event_lake(normalize_envelope(raw), self.lake, mode="overwrite")

    def open_store(self):
        from vectra_player_spark.eventstore import EventStore
        from vectra_player_spark.sources.event_lake import read_event_lake

        with self.run.tracer.span("event_lake.read_plan"):
            return EventStore(read_event_lake(self.run.spark, self.lake))

    def lookup(self, kind: str, arg):
        store = self.open_store()
        with self.run.tracer.span(f"eventstore.{kind}"):
            if kind == "game_episode":
                return store.game_episode(arg).toPandas()["seq"].tolist()
            if kind == "episodes_batch":
                return sorted(store.episodes_batch(arg).toPandas()["seq"])
            if kind == "get_player_games":
                return [(r.game_id, r.n_events, r.first_ts, r.last_ts)
                        for r in store.get_player_games(arg).collect()]
            if kind == "get_player_actions":
                return [r.seq for r in store.get_player_actions(arg).collect()]
            if kind == "player_events":
                return sorted(store.player_events(arg).toPandas()["seq"])
            if kind == "count_events":
                return store.count_events(arg)
            if kind == "query":
                rows = store.query(
                    "SELECT doc_type, count(*) AS n FROM events_lake "
                    "WHERE game_id = :gid GROUP BY doc_type", {"gid": arg}).collect()
                return sorted((r.doc_type, r.n) for r in rows)
            if kind == "iter_episodes":
                t0 = time.perf_counter()
                out = [(g, pdf["seq"].tolist()) for g, pdf in
                       store.iter_episodes(self.MIN_TICKS, limit=arg)]
                self.iter_s += time.perf_counter() - t0
                self.iter_rows += sum(len(s) for _g, s in out)
                return out
        raise ValueError(kind)

    def run_pass(self) -> list[float]:
        from pyspark.sql import functions as F

        from vectra_player_spark.eventstore import explode_sidebets, load_games
        from vectra_player_spark.operators.backtest import fit_hazard_model, replay_backtest
        from vectra_player_spark.operators.montecarlo import (
            simulate_iterations,
            summarize_simulation,
        )
        from vectra_player_spark.operators.survival import hazard_rate, km_survival

        run, tr = self.run, self.run.tracer
        store = self.open_store()
        res = {}

        def tick_features():
            df = store.tick_features()
            with tr.span("windows.tick_features"):
                return df.toPandas()

        def games():
            g = load_games(store.envelope)
            return g.toPandas(), explode_sidebets(g).toPandas()

        durations = load_games(store.envelope).select(F.col("duration_ticks").alias("duration"))

        def backtest():
            with tr.span("backtest.fit"):
                model = fit_hazard_model(durations)
            episodes = store.envelope.where(F.col("doc_type") == "game_tick").select(
                "game_id", "seq")
            with tr.span("backtest.replay"):
                return replay_backtest(episodes, model).toPandas()

        def simulate():
            per_it = simulate_iterations(run.spark, n_iterations=self.SIM_ITERATIONS,
                                         seed=run.seed)
            return per_it.toPandas(), summarize_simulation(per_it).collect()[0].asDict()

        res["tf"] = run.op("eventstore.tick_features", tick_features, "tick_features")
        res["qg"] = run.op("eventstore.qualifying_games",
                           lambda: store.qualifying_games(self.MIN_TICKS).toPandas())
        res["dtc"] = run.op("eventstore.doc_type_counts", lambda: store.doc_type_counts().toPandas())
        res["games"] = run.op("eventstore.load_games", games, "load_games")
        res["km"] = run.op("survival.km", lambda: km_survival(durations).toPandas())
        res["hz"] = run.op("survival.hazard", lambda: hazard_rate(durations).toPandas())
        res["bt"] = run.op("backtest", backtest, "replay_backtest")
        res["mc"] = run.op("montecarlo.sim", simulate, "simulate")

        latencies, answers = [], []
        for kind, arg in self.calls:
            t0 = time.perf_counter()
            got = run.op(f"lookup.{kind}", lambda k=kind, a=arg: self.lookup(k, a), "lookups")
            dt = time.perf_counter() - t0
            latencies.append(dt)
            self.latencies.setdefault(kind, []).append(dt)
            answers.append((kind, arg, got))
        self.results = res
        self.answers = answers
        return latencies

    def check_pass(self):
        import checks
        import numpy as np

        res, games, env = self.results, self.data["games"], self.data["envelope"]
        if self.duck is None:
            self.duck = checks.duckdb_tick_features(self.lake)
        durations = np.array([g["n"] for g in games.values()])
        c = self.run.check
        if res["tf"] is not None:
            c(checks.check_tick_features(res["tf"], self.duck))
        if res["qg"] is not None:
            c(checks.check_qualifying(res["qg"], games, self.MIN_TICKS))
        if res["dtc"] is not None:
            c(checks.check_doc_type_counts(res["dtc"], env))
        if res["games"] is not None:
            c(checks.check_games(res["games"][0], games))
            c(checks.check_sidebets(res["games"][1], games))
        if res["km"] is not None:
            c(checks.check_km(res["km"], durations))
        if res["hz"] is not None:
            c(checks.check_hazard(res["hz"], durations))
        if res["bt"] is not None:
            c(checks.check_backtest(res["bt"], games))
        if res["mc"] is not None:
            c(checks.check_montecarlo(res["mc"][0], res["mc"][1], self.SIM_ITERATIONS))
        truth = checks.LakeTruth(env)
        for kind, arg, got in self.answers:
            if got is not None:
                c(checks.check_lookup(kind, arg, got, truth))

    def layer_metrics(self) -> dict:
        tr = self.run.tracer
        med = lambda n: median(tr.durations(n))  # noqa: E731
        size, files = tracing.tree_bytes(self.lake)
        m = {
            "event_lake.write_s": med("event_lake.write"),
            "event_lake.bytes_written": size,
            "event_lake.files_written": files,
            "event_lake.read_plan_s": med("event_lake.read_plan"),
            "eventstore.tick_features_s": med("eventstore.tick_features"),
            "eventstore.qualifying_games_s": med("eventstore.qualifying_games"),
            "eventstore.doc_type_counts_s": med("eventstore.doc_type_counts"),
            "eventstore.load_games_s": med("eventstore.load_games"),
            "eventstore.iter_episodes_rows_per_s": ratio(self.iter_rows, self.iter_s),
            "windows.tick_features_s": med("windows.tick_features"),
            "survival.km_s": med("survival.km"),
            "survival.hazard_s": med("survival.hazard"),
            "montecarlo.sim_s": med("montecarlo.sim"),
            "backtest.fit_s": med("backtest.fit"),
            "backtest.replay_s": med("backtest.replay"),
        }
        for kind, xs in self.latencies.items():
            m[f"eventstore.{kind}_p50_s"] = median(xs)
            m[f"eventstore.{kind}_p90_s"] = percentile(xs, 0.9)
        return m


# ---------------------------------------------------------------------------
# live_ingest
# ---------------------------------------------------------------------------


class LiveIngest:
    SPARK_OPS = ("stream_phase", "stream_session")
    FRAMES_ONLY = "frames_only"

    def __init__(self, run: Run):
        self.run = run
        self.passes = 0
        self.progress: list[dict] = []
        self.parse_rate = 0.0

    def generate(self):
        self.data = gen.ingest_inputs(self.run.seed, os.path.join(self.run.work, "backlog"))

    def setup(self):
        pass

    def ticks(self, throttle: bool = True):
        """The union of every feed's parsed tick stream: the Kafka-shaped
        feeds drain one file per trigger, the frames-only feed all at once."""
        from functools import reduce

        from pyspark.sql import DataFrame

        from vectra_player_spark.streaming.jobs import (
            kafka_frames_bridge,
            parse_tick_frames,
            read_raw_frames,
        )

        spark = self.run.spark
        parts = []
        for name, feed in self.data["feeds"].items():
            reader = spark.readStream.schema(_kafka_schema())
            if throttle:
                reader = reader.option("maxFilesPerTrigger", 1)
            parts.append(parse_tick_frames(kafka_frames_bridge(reader.parquet(feed["dir"])),
                                           session_id=name))
        parts.append(parse_tick_frames(
            read_raw_frames(spark, "files", path=self.data["frames_only"]["dir"]),
            session_id=self.FRAMES_ONLY))
        return reduce(DataFrame.unionByName, parts)

    def drain(self, streams: dict, base: str) -> list[float]:
        """One lake-writing query per stream, each run until it has drained
        the backlog, one after the other."""
        from vectra_player_spark.streaming.jobs import stream_to_lake

        run, lat = self.run, []
        for name, df in streams.items():
            if run.traced:
                run.spark.sparkContext.setJobGroup(f"stream_{name}", name)
            t0 = time.perf_counter()
            with run.tracer.span(f"stream.{name}", new_trace=True):
                q = stream_to_lake(df, os.path.join(base, f"{name}_lake"),
                                   os.path.join(base, f"{name}_ckpt"), trigger_seconds=0)
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            run.group_wall[f"stream_{name}"] = time.perf_counter() - t0
            run.group_alias[str(q.runId)] = f"stream_{name}"
            prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            self.progress.extend(prog)
            lat += [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        return lat

    def run_pass(self) -> list[float]:
        from pyspark.sql import functions as F

        from vectra_player_spark.streaming.stateful import phase_machine, sessionize_games

        self.passes += 1
        self.base = os.path.join(self.run.work, f"pass{self.passes}")
        streams = {
            "phase": phase_machine(self.ticks())
            .withColumn("doc_type", F.lit("phase_tick"))
            .withColumn("date", F.date_format(F.timestamp_millis("ts_ms"), "yyyy-MM-dd")),
            "session": sessionize_games(self.ticks())
            .withColumn("doc_type", F.lit("game_session"))
            .withColumn("date", F.lit("2026-03-01")),
        }
        # the operations are the games, counted in check_pass
        try:
            self.drained = True
            return self.drain(streams, self.base)
        except Exception:  # noqa: BLE001 — fails every game of the pass
            traceback.print_exc(file=sys.stderr)
            self.drained = False
            return []

    def check_pass(self):
        import pyarrow.dataset as ds

        import checks

        run = self.run
        feeds = dict(self.data["feeds"])
        games = {n: f["games"] for n, f in feeds.items()}
        games[self.FRAMES_ONLY] = self.data["frames_only"]["games"]
        run.attempted += sum(len(g) for g in games.values())
        if not self.drained:
            run.failed += sum(len(g) for g in games.values())
            return

        def read(name):
            path = os.path.join(self.base, f"{name}_lake")
            return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()

        try:
            phases, sessions = read("phase"), read("session")
        except Exception:  # noqa: BLE001 — a lake that cannot be read fails every game
            traceback.print_exc(file=sys.stderr)
            run.failed += sum(len(g) for g in games.values())
            return
        for name, feed_games in games.items():
            srows = sessions[sessions.session_id == name]
            bad = checks.check_sessions(srows, feed_games)
            if name != self.FRAMES_ONLY:
                prow = phases[phases.session_id == name]
                for gid, p in checks.check_feed_phases(prow, feeds[name]["ticks"],
                                                       feed_games).items():
                    bad.setdefault(gid, []).extend(p)
            if name == self.FRAMES_ONLY:
                # the kept, known fault (frames without seq interleave their
                # games): each wrong game is a failed operation; the stray
                # sessions it also emits are the same fault, not a new one
                run.failed += len(set(bad) - {"_feed"})
                continue
            run.check([f"{name}/{gid}: {x}" for gid, p in bad.items() for x in p])

    def parse_probe(self):
        """Traced runs only: parse_tick_frames over the whole backlog into a
        noop sink, unthrottled, as one trigger. If it raises, the rate
        reads 0 and the run still reports."""
        try:
            with self.run.tracer.span("socketio.parse") as s:
                q = (self.ticks(throttle=False).writeStream.format("noop")
                     .option("checkpointLocation", os.path.join(self.run.work, "noop_ckpt"))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
        except Exception:  # noqa: BLE001 — a probe, not a counted operation
            traceback.print_exc(file=sys.stderr)
            return
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        self.parse_rate = ratio(rows, s["end"] - s["start"])

    def layer_metrics(self) -> dict:
        self.parse_probe()
        dur = lambda k: [p["durationMs"].get(k, 0) for p in self.progress]  # noqa: E731
        last = [p for p in self.progress if p.get("stateOperators")]
        lake_b = files = ckpt_b = 0
        for name in ("phase", "session"):
            b, f = tracing.tree_bytes(os.path.join(self.base, f"{name}_lake"))
            lake_b, files = lake_b + b, files + f
            ckpt_b += tracing.tree_bytes(os.path.join(self.base, f"{name}_ckpt"))[0]
        state = last[-1]["stateOperators"] if last else []
        return {
            "socketio.parse_rows_per_s": self.parse_rate,
            "stream.trigger_ms_p50": median(dur("triggerExecution")),
            "stream.trigger_ms_p90": percentile(dur("triggerExecution"), 0.9),
            "stream.add_batch_ms_p50": median(dur("addBatch")),
            "stream.query_planning_ms_p50": median(dur("queryPlanning")),
            "stream.wal_commit_ms_p50": median(dur("walCommit")),
            "stream.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
            "stream.state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            "stream.lake_bytes": lake_b,
            "stream.checkpoint_bytes": ckpt_b,
            "stream.files_written": files,
        }


def _kafka_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("key", T.BinaryType()), T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()), T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()), T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ])


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup:
    K = 10
    # queries per brute_force_topk call, as the exact-neighbour callers ask
    # (tests/test_sigstore.py: 8 queries, k=10; the probe sets of
    # plans/queries_vector.py hold 10 and 50)
    QUERIES_PER_CALL = 8
    FILES = 8  # the corpus is stored as this many Parquet files
    SPARK_OPS = ("exact", "minhash", "simhash", "embed", "knn")

    def __init__(self, run: Run):
        self.run = run
        self.path = os.path.join(run.work, "corpus.parquet")
        self.recall = []
        self.pairs_out = []

    def generate(self):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.data = gen.corpus_inputs(self.run.seed)
        os.makedirs(self.path)
        docs = self.data["docs"]
        for i, part in enumerate(np.array_split(np.arange(len(docs)), self.FILES)):
            pq.write_table(pa.Table.from_pandas(docs.iloc[part], preserve_index=False),
                           os.path.join(self.path, f"part-{i:03d}.parquet"))

    def setup(self):
        pass

    def run_pass(self) -> list[float]:
        import pandas as pd
        from pyspark.sql import functions as F

        from vectra_player_spark.operators.dedup import (
            exact_duplicates,
            minhash_lsh_pairs,
            simhash_neardup_pairs,
        )
        from vectra_player_spark.operators.knn import brute_force_topk
        from vectra_player_spark.operators.vector_index import embed_chunks
        from vectra_player_spark.session import release_pins

        run = self.run
        docs = run.spark.read.parquet(self.path)
        res = {}
        lat = []

        def timed(span, group, fn):
            t0 = time.perf_counter()
            out = run.op(span, fn, group)
            lat.append(time.perf_counter() - t0)
            return out

        def pairs(fn):
            def go():
                try:
                    return fn(docs).toPandas()
                finally:
                    release_pins()
            return go

        res["exact"] = timed("dedup.exact", "exact", lambda: exact_duplicates(docs).toPandas())
        res["minhash"] = timed("dedup.minhash", "minhash", pairs(minhash_lsh_pairs))
        res["simhash"] = timed("dedup.simhash", "simhash", pairs(simhash_neardup_pairs))
        embedded = embed_chunks(docs.select("doc_id", "text")).persist()
        try:
            res["embed"] = timed("vector_index.embed", "embed",
                                 lambda: embedded.select("doc_id", "embedding").toPandas())
            qs, step, parts = self.data["queries"], self.QUERIES_PER_CALL, []
            for i in range(0, len(qs), step):
                queries = embedded.where(F.col("doc_id").isin(qs[i:i + step]))
                parts.append(timed("knn.topk", "knn", lambda q=queries: brute_force_topk(
                    q, embedded, k=self.K, id_col="doc_id").toPandas()))
            res["knn"] = None if any(p is None for p in parts) else pd.concat(parts)
        finally:
            embedded.unpersist()
        self.results = res
        return lat

    def check_pass(self):
        import checks

        res, d, c = self.results, self.data, self.run.check
        if res["exact"] is not None:
            c(checks.check_exact(res["exact"], d["groups"]))
        if res["minhash"] is not None:
            problems, recall, stray = checks.minhash_recall(res["minhash"], d["planted_pairs"],
                                                            d["docs"])
            c(problems)
            if stray:
                print(f"perfbench: minhash_lsh_pairs reported {stray} unplanted pairs that "
                      "share a band", file=sys.stderr)
            if recall < 0.9:
                c([f"minhash_lsh_pairs: recall {recall:.3f} of planted pairs is below 0.9"])
            self.recall.append(recall)
        if res["simhash"] is not None:
            c(checks.check_simhash(res["simhash"], d["docs"], d["groups"]))
        if res["embed"] is not None:
            c(checks.check_embeddings(res["embed"], len(d["docs"])))
        if res["knn"] is not None and res["embed"] is not None:
            c(checks.check_knn(res["knn"], res["embed"], d["queries"], self.K))
        self.pairs_out.append(sum(len(res[k]) for k in ("minhash", "simhash")
                                  if res[k] is not None))

    def layer_metrics(self) -> dict:
        tr = self.run.tracer
        med = lambda n: median(tr.durations(n))  # noqa: E731
        n = len(self.data["docs"])
        return {
            "dedup.exact_s": med("dedup.exact"),
            "dedup.minhash_s": med("dedup.minhash"),
            "dedup.simhash_s": med("dedup.simhash"),
            "dedup.pairs_out": median(self.pairs_out),
            "dedup.planted_recall": median(self.recall),
            "vector_index.embed_rows_per_s": ratio(n, med("vector_index.embed")),
            "knn.topk_s": med("knn.topk"),
            "knn.pairs_scored_per_s": ratio(len(self.data["queries"]) * n,
                                            sum(tr.durations("knn.topk"))),
        }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

WORKLOAD_CLASSES = {"lake_analytics": LakeAnalytics, "live_ingest": LiveIngest,
                    "corpus_dedup": CorpusDedup}


def load_benchmark_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def configure_environment(run: Run) -> None:
    """Session sizing through the program's own variables, and every
    scratch path inside the work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("SPARK_WAREHOUSE_DIR", "warehouse"),
                     ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(run.work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM started from here (Spark's launcher and the Spark JVM) keeps its
    # temporary files in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if run.traced:
        events = os.path.join(run.work, "eventlog")
        os.makedirs(events)
        submit += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir={events}",
                   "--conf spark.eventLog.rolling.enabled=false",
                   "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the JVM
    started (the Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    family = tracing.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired: make it end
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def spark_op_metrics(run: Run, workload, event_dir: str) -> dict:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    by_group = tracing.event_log_by_group(logs[0]) if logs else {}
    merged: dict[str, dict] = {}
    for group, m in by_group.items():
        op = run.group_alias.get(group, group)
        acc = merged.setdefault(op, dict.fromkeys(m, 0))
        for k, v in m.items():
            acc[k] += v
    out = {}
    for op in workload.SPARK_OPS:
        m = merged.get(op, dict.fromkeys(("stages", "tasks", "shuffle_write_bytes",
                                          "spill_bytes", "gc_s", "task_run_s"), 0))
        wall = run.group_wall.get(op, 0.0)
        for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            out[f"spark.{op}.{k}"] = m[k]
        out[f"spark.{op}.busy_share"] = m["task_run_s"] / (run.cpus * wall) if wall else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        from vectra_player_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program cannot be imported from {root}: {e}", file=sys.stderr)
        return 2
    spec = load_benchmark_spec()

    work = os.path.join(root, ".bench_out", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    configure_environment(run)
    workload = WORKLOAD_CLASSES[args.workload](run)
    try:
        t0 = time.perf_counter()
        workload.generate()
        gen_s = time.perf_counter() - t0

        with run.tracer.span("session.start", new_trace=True):
            run.spark = get_spark("perfbench")
        from pyspark import SparkContext

        try:
            rss = (tracing.RssSampler(SparkContext._gateway.proc.pid) if run.traced
                   else contextlib.nullcontext())
            with rss:
                workload.setup()
                setup_s = process_age_s() - gen_s

                passes, latencies = [], []
                started = time.perf_counter()
                while not passes or time.perf_counter() - started < args.seconds:
                    p0 = time.perf_counter()
                    latencies += workload.run_pass()
                    passes.append(time.perf_counter() - p0)
                    workload.check_pass()
                layer = workload.layer_metrics() if run.traced else {}
        finally:
            stop_spark(run.spark)
        if run.traced:
            layer["session.start_s"] = run.tracer.durations("session.start")[0]
            layer["process.peak_rss_mb"] = rss.peak_kib / 1024.0
            layer.update(spark_op_metrics(run, workload, os.path.join(work, "eventlog")))
            traces = os.path.join(root, ".bench_out", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.write(os.path.join(traces, f"{args.workload}-s{args.seed}.json"),
                             {"passes_s": passes, "problems": run.problems})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in run.problems[:20]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
          f"pass_s={['%.3f' % p for p in passes]} setup_s={setup_s:.3f} "
          f"attempted={run.attempted} failed={run.failed}", file=sys.stderr)

    if run.traced:
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        values = {"setup_s": setup_s, "pass_s": statistics.median(passes),
                  "latency_p50_s": median(latencies)}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not run.problems, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
