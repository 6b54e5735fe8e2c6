"""The Parquet event lake: hive-partitioned envelope store (S1/S2/S5/S6).

Reference layout: events_parquet/doc_type=<dt>/date=YYYY-MM-DD/<file>.parquet
with buffered atomic writes (writer.py:102-292). Spark equivalents:

- write: `df.write.partitionBy("doc_type","date")` — the task-commit
  protocol gives the same atomicity the reference gets from tmp→rename;
  at 100 TB the (doc_type, date) layout bounds every daily ingest batch
  and every analytic scan to the partitions it names.
- read: partition discovery under the declared `EVENT_LAKE_SCHEMA` covers
  the reference's hive_partitioning=true, union_by_name=true reads (S2).
  No schema is inferred: opening the lake lists files and starts no Spark
  job, where a footer-merging read would start one per open. A file that
  lacks some envelope columns reads them as NULL (union_by_name); columns
  outside the envelope are not surfaced, which drops nothing written by
  `write_event_lake` over `normalize_envelope` output.
- compact: periodic coalesce rewrite replacing the reference's
  read-concat-rewrite appender (S6) — small-file control at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectra_player_spark.schema import ENVELOPE_SCHEMA, EVENT_LAKE_SCHEMA


def normalize_envelope(raw: DataFrame) -> DataFrame:
    """Project a raw event DataFrame onto the canonical envelope columns,
    adding the `date` partition column from ts (writer.py:127). Missing
    envelope columns are filled with typed NULLs (open-world payloads)."""
    cols = []
    for f in ENVELOPE_SCHEMA.fields:
        if f.name in raw.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    out = raw.select(*cols)
    return out.withColumn("date", F.substring("ts", 1, 10))


def write_event_lake(df: DataFrame, path: str, mode: str = "append") -> None:
    """S5: partitioned parquet sink with the reference's layout."""
    df.write.mode(mode).partitionBy("doc_type", "date").parquet(path)


def read_event_lake(
    spark: SparkSession,
    path: str,
    doc_type: str | None = None,
    date: str | None = None,
) -> DataFrame:
    """S1/S2: hive-partitioned scan under `EVENT_LAKE_SCHEMA`; doc_type/date
    filters become partition pruning (check PartitionFilters in .explain),
    the reference's glob-per-doc_type trick done by Catalyst instead of by
    hand. Envelope columns a file lacks read as NULL; columns outside the
    envelope are not read (every `normalize_envelope` write has none)."""
    df = spark.read.schema(EVENT_LAKE_SCHEMA).parquet(path)
    if doc_type is not None:
        df = df.where(F.col("doc_type") == doc_type)
    if date is not None:
        df = df.where(F.col("date") == date)
    return df


def compact_partition(spark: SparkSession, path: str, doc_type: str, date: str, target_files: int = 1) -> None:
    """S6: small-file compaction — rewrite one (doc_type, date) partition
    into `target_files` files. The read is partition-pruned; the rewrite
    touches only that directory.

    Swap discipline: the compacted output is staged under a `_compact_tmp`
    sibling of the lake root — the leading underscore makes Spark/Hive
    partition discovery ignore it, so a concurrent full-lake scan never
    sees the partition twice. The swap itself is two renames (original →
    trash, staged → canonical): the canonical path is missing only between
    those renames, and a crash leaves the original recoverable in trash
    rather than deleted. On object stores the equivalent is a manifest
    commit (Delta/Iceberg); this is the HDFS/local-FS protocol.
    """
    import os
    import shutil
    import uuid

    part_rel = f"doc_type={doc_type}/date={date}"
    part_path = f"{path}/{part_rel}"
    # Staging + trash live under underscore-prefixed dirs: invisible to
    # partition discovery, so readers never double-count during the swap.
    token = uuid.uuid4().hex
    staged = f"{path}/_compact_tmp/{token}"
    trash = f"{path}/_compact_trash/{token}"

    df = spark.read.parquet(part_path)
    df.coalesce(target_files).write.mode("overwrite").parquet(staged)

    os.makedirs(os.path.dirname(trash), exist_ok=True)
    shutil.move(part_path, trash)  # original preserved, not deleted
    try:
        shutil.move(staged, part_path)
    except BaseException:
        shutil.move(trash, part_path)  # roll back: restore the original
        raise
    shutil.rmtree(trash)


def export_jsonl(df: DataFrame, path: str, by_doc_type: bool = True) -> None:
    """S7: JSONL sink, one directory per doc_type (export_jsonl.py:19-92)."""
    w = df.write.mode("overwrite")
    if by_doc_type and "doc_type" in df.columns:
        w = w.partitionBy("doc_type")
    w.json(path)


def export_csv(df: DataFrame, path: str) -> None:
    """S8: CSV sink with header (export_for_julius.py:45-110)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S4: line-delimited JSON source, malformed lines dropped
    (data_processor.py:77-83 skip-on-parse-error semantics)."""
    reader = spark.read.option("mode", "DROPMALFORMED")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
