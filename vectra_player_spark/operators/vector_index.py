"""Vector index build pipeline (SURVEY §2.10 V1-V3; north star: "Spark
handles batch ETL and index build, not online ANN serving").

- chunk_events (V1): doc_type-templated chunk text as column expressions
  (vector_indexer/chunker.py:29-150) — pure JVM-side, no UDF.
- embed_chunks: deterministic hash-projection embedding via an
  Arrow-batched pandas UDF with a fixed dim (the reference embeds with
  all-MiniLM-L6-v2, indexer.py:104).
- build_incremental (V2): timestamp-checkpointed incremental build
  (indexer.py:161-218): read events newer than the checkpoint, chunk,
  embed, append to the parquet index directory, then advance the
  manifest. Parquet remains canonical truth; the index is derived and
  rebuildable (V3).
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EMBED_DIM = 64

CHUNK_SCHEMA = "chunk_id string, ts string, doc_type string, text string"


def chunk_events(envelope: DataFrame) -> DataFrame:
    """V1: one retrieval chunk per event; id = session_seq_ts; the text is a
    doc_type-specific template over the typed columns."""
    text = (
        F.when(
            F.col("doc_type") == "game_tick",
            F.format_string(
                "game %s tick %s price %s",
                F.col("game_id"),
                F.col("tick").cast("string"),
                F.col("price"),
            ),
        )
        .when(
            F.col("doc_type") == "player_action",
            F.format_string(
                "player %s %s in game %s",
                F.coalesce("username", "player_id"),
                F.col("action_type"),
                F.col("game_id"),
            ),
        )
        .otherwise(
            F.format_string(
                "%s event %s", F.col("doc_type"), F.coalesce("event_name", F.lit(""))
            )
        )
    )
    return envelope.select(
        F.concat_ws("_", "session_id", F.col("seq").cast("string"), "ts").alias("chunk_id"),
        "ts",
        "doc_type",
        text.alias("text"),
    )


def embed_chunks(chunks: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """Arrow-batched embedding column: deterministic hash projection —
    tokens → md5 → bucket counts, L2-normalized, ``dim`` floats per row.
    Same call shape as a model encode (the reference runs
    all-MiniLM-L6-v2, indexer.py:104)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<float>")
    def _embed_batch(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float32)
            for tok in (t or "").split():
                h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
                v[h % dim] += 1.0
            n = np.linalg.norm(v)
            out.append((v / n if n > 0 else v).tolist())
        return pd.Series(out)

    return chunks.withColumn("embedding", _embed_batch(F.col("text")))


class VectorIndexer:
    """V2/V3: checkpointed incremental index builder. Vectors live as
    parquet under ``index_dir/vectors``; the checkpoint is
    ``index_dir/_manifest/vector_index_checkpoint.json``."""

    def __init__(self, index_dir: str):
        self.vec_dir = os.path.join(index_dir, "vectors")
        self.manifest_path = os.path.join(
            index_dir, "_manifest", "vector_index_checkpoint.json"
        )

    def last_indexed_ts(self) -> str:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)["last_indexed_ts"]
        return "1970-01-01T00:00:00+00:00"

    def _write_checkpoint(self, ts: str) -> None:
        os.makedirs(os.path.dirname(self.manifest_path), exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_indexed_ts": ts}, f)
        os.replace(tmp, self.manifest_path)  # atomic, like writer.py:219-231

    def build_incremental(self, envelope: DataFrame) -> int:
        """Index events with ts beyond the checkpoint (P4 range predicate →
        parquet pushdown); returns rows indexed and advances the manifest."""
        since = self.last_indexed_ts()
        fresh = envelope.where(F.col("ts") > since)
        embedded = embed_chunks(chunk_events(fresh))
        n = embedded.count()
        if n == 0:
            return 0
        embedded.write.mode("append").parquet(self.vec_dir)
        max_ts = fresh.agg(F.max("ts")).collect()[0][0]
        self._write_checkpoint(max_ts)
        return n

    def rebuild(self, envelope: DataFrame) -> int:
        """V3: clear the vectors, reset checkpoint to epoch, rerun incremental."""
        if os.path.exists(self.vec_dir):
            shutil.rmtree(self.vec_dir)
        if os.path.exists(self.manifest_path):
            os.remove(self.manifest_path)
        return self.build_incremental(envelope)

    def search(self, spark: SparkSession, query_text: str, top_k: int = 5) -> DataFrame:
        """V4 batch-side search against the derived index (online ANN serving
        is out of engine scope — this is the exact scan used for
        verification and offline evaluation)."""
        from vectra_player_spark.functions.vectors import cosine

        index = spark.read.parquet(self.vec_dir)
        q = embed_chunks(
            spark.createDataFrame([("q", "", "", query_text)], CHUNK_SCHEMA)
        ).select(F.col("embedding").alias("q_vec"))
        return (
            index.crossJoin(F.broadcast(q))
            .select(
                "chunk_id",
                "text",
                cosine("embedding", "q_vec").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("chunk_id"))
            .limit(top_k)
        )
