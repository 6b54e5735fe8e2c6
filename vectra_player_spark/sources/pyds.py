"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`) for raw
Socket.IO frame logs — the S10/F10 connector as a FIRST-CLASS format
instead of an ad-hoc read chain:

    spark.dataSource.register(SocketIOFrameDataSource)
    spark.read.format("socketio_frames").load("/path/to/frames")        # batch
    spark.readStream.format("socketio_frames").load("/path/to/frames")  # stream

Reference semantics: one raw frame per line, decoded with the same
never-raises parser as the UDF path (src/sources/socketio_parser.py:44-185
re-implementation in :mod:`vectra_player_spark.sources.socketio`);
malformed frames surface as rows with `parse_error` set, mirroring the
skip-malformed ingest discipline.

Scale/engine design:

- **Partition planning**: one input partition per file — the natural
  parallel unit for append-only frame logs; a 1000-executor cluster reads
  1000 files concurrently with zero coordination.
- **Filter pushdown** (`pushFilters`): `event_name = '...'` and
  `IsNotNull(event_name)` are evaluated inside the source's read loop —
  the dominant ingest filter (gameStateUpdate is a fraction of heartbeat
  traffic) never materializes non-matching rows into Arrow batches.
  Unsupported filters are returned to Spark for normal post-scan
  evaluation, so pushdown is a pure optimization, never a semantics
  change.
- **Streaming offsets**: the simple stream reader's offset is the count
  of consumed files in sorted-name order (frame logs are written
  append-only, one file per rotation — the reference writer's pattern).
  `readBetweenOffsets` re-reads an exact file range, so checkpoint
  recovery replays identical micro-batches (exactly-once with the file
  sink's manifest).

The files/socket readers and the Kafka bridge in
:mod:`vectra_player_spark.streaming.jobs` remain the transport-
substitution seam; this module is the packaged-connector form of the
same contract.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    IsNotNull,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from vectra_player_spark.sources.socketio import parse_socketio_frame

FRAME_DDL = (
    "file string, line_no bigint, frame_type string, packet_type string, "
    "namespace string, ack_id bigint, event_name string, data_json string, "
    "parse_error string"
)


def _list_frame_files(path: str) -> list[str]:
    """Sorted stable listing of the log directory (or a single file)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if os.path.isfile(os.path.join(path, f)) and not f.startswith((".", "_"))
    )


def _parse_file(fpath: str, event_eq: str | None, event_notnull: bool):
    base = os.path.basename(fpath)
    with open(fpath, encoding="utf-8", errors="replace") as fh:
        for i, line in enumerate(fh, start=1):
            p = parse_socketio_frame(line.rstrip("\n"))
            if event_eq is not None and p["event_name"] != event_eq:
                continue
            if event_notnull and p["event_name"] is None:
                continue
            yield (
                base,
                i,
                p["frame_type"],
                p["packet_type"],
                p["namespace"],
                p["ack_id"],
                p["event_name"],
                p["data_json"],
                p["parse_error"],
            )


class FrameFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class FrameBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("socketio_frames requires a path")
        self.event_eq: str | None = None
        self.event_notnull = False

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("event_name",):
                self.event_eq = f.value
            elif isinstance(f, IsNotNull) and f.attribute == ("event_name",):
                self.event_notnull = True
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self) -> Sequence[FrameFilePartition]:
        return [FrameFilePartition(p) for p in _list_frame_files(self.path)]

    def read(self, partition: FrameFilePartition):
        yield from _parse_file(partition.path, self.event_eq, self.event_notnull)


class FrameStreamReader(SimpleDataSourceStreamReader):
    """Offset = number of consumed files in sorted-name order. Frame logs
    are append-only and rotate by file, so a file present at planning time
    is complete — the same assumption Spark's file source makes."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("socketio_frames requires a path")

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def read(self, start: dict):
        files = _list_frame_files(self.path)
        n0 = int(start.get("n_files", 0))
        rows = [r for f in files[n0:] for r in _parse_file(f, None, False)]
        return (iter(rows), {"n_files": len(files)})

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _list_frame_files(self.path)
        n0, n1 = int(start.get("n_files", 0)), int(end.get("n_files", 0))
        return iter([r for f in files[n0:n1] for r in _parse_file(f, None, False)])

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; files are the durable log


class SocketIOFrameDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "socketio_frames"

    def schema(self) -> str:
        return FRAME_DDL

    def reader(self, schema) -> FrameBatchReader:
        return FrameBatchReader(self.options)

    def simpleStreamReader(self, schema) -> FrameStreamReader:
        return FrameStreamReader(self.options)


# ---------------------------------------------------------------------------
# Transactional JSONL sink (S7's packaged-connector form): the write side of
# the Python DataSource API, demonstrating the two-phase commit protocol —
# tasks stage to a private temp dir and return a WriterCommitMessage; only
# the DRIVER's commit() publishes staged files (rename + _SUCCESS manifest),
# and abort() discards them. A failed/retried task therefore never leaves
# partial output visible, the same job-commit discipline Spark's built-in
# FileOutputCommitter provides (on object stores, swap the rename publish
# for a manifest-only commit — the protocol hooks are the same).
# ---------------------------------------------------------------------------


@dataclass
class _StagedFile(WriterCommitMessage):
    staged_path: str
    n_rows: int


class JsonlAtomicWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_atomic requires a path")
        self.overwrite = overwrite

    def write(self, iterator) -> _StagedFile:
        # Executor-side: stage under a task-unique name; never touch the
        # final directory. TaskContext gives (partition, attempt) so retries
        # stage to distinct files and the winner is chosen at commit time.
        import json as _json
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        staged_dir = os.path.join(self.path, "_staging")
        os.makedirs(staged_dir, exist_ok=True)
        staged = os.path.join(staged_dir, f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _StagedFile(staged_path=staged, n_rows=n)

    def commit(self, messages) -> None:
        # Driver-side, runs once after EVERY task succeeded: publish staged
        # files with a rename each, then the _SUCCESS manifest naming them.
        import shutil

        published = []
        for i, m in enumerate(messages):
            final = os.path.join(self.path, f"part-{i:05d}.jsonl")
            os.replace(m.staged_path, final)
            published.append((os.path.basename(final), m.n_rows))
        staging = os.path.join(self.path, "_staging")
        shutil.rmtree(staging, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w", encoding="utf-8") as fh:
            for name, n in published:
                fh.write(f"{name}\t{n}\n")

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class JsonlAtomicDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_atomic"

    def writer(self, schema, overwrite: bool) -> JsonlAtomicWriter:
        return JsonlAtomicWriter(self.options, overwrite)
