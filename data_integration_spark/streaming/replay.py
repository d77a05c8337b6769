"""File replay: how a streaming query runs over a table, and where its
files go.

Every streaming query of the engine replays a batch table through a
parquet file source and runs to the end of its input with an
``availableNow`` trigger, so its sink can be checked against the batch
answer. This module is the one place that decides how:

- ``scratch_dir(name)`` gives a fresh path under one root per process.
  The root is made on first use with ``tempfile.mkdtemp``, so ``TMPDIR``
  places it, and is removed when the process exits. Paths live for the
  whole process because queries return lazy re-reads of their sinks.
- ``replay_source`` writes an ordered list of frames, one parquet file
  each, and returns the file-source stream over them (``file_stream``).
  ``max_files_per_trigger`` sets the micro-batches: unset, the whole
  replay is one batch; 1, each frame is one batch.
- ``run`` starts a configured writer with the ``availableNow`` trigger
  and a checkpoint, waits for it, and fails loudly: a replay that does
  not finish within ``TIMEOUT_S`` is stopped and raises ``TimeoutError``,
  and a failed query's ``StreamingQueryException`` propagates.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

#: Seconds a replay may run before ``run`` stops it and raises.
TIMEOUT_S = 300

_root: tuple[int, str] | None = None  # (pid that made it, path)
_seq = itertools.count()


def _remove_root(pid: int, path: str) -> None:
    if os.getpid() == pid:  # a forked child must not remove its parent's root
        shutil.rmtree(path, ignore_errors=True)


def scratch_dir(name: str) -> str:
    """A fresh path ``<root>/<name>-<n>`` that nothing has written yet,
    where ``<root>`` is this process's run root."""
    global _root
    if _root is None or _root[0] != os.getpid():
        _root = (os.getpid(), tempfile.mkdtemp(prefix="spark-graft-"))
        atexit.register(_remove_root, *_root)
    return os.path.join(_root[1], f"{name}-{next(_seq)}")


def _ltz_schema(schema: StructType) -> StructType:
    """``schema`` with TIMESTAMP_NTZ fields read as TIMESTAMP, so the
    stream exposes a watermark-eligible event-time column under any
    session config (the boundary rule of catalog.normalize_timestamps)."""
    return StructType(
        [
            StructField(
                f.name,
                TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )


def file_stream(
    spark: SparkSession,
    src: str,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """The parquet file-source stream over ``src``, with the schema of its
    files (or ``schema``) under the TIMESTAMP_NTZ → TIMESTAMP rule."""
    reader = spark.readStream.schema(_ltz_schema(schema or spark.read.parquet(src).schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)


def replay_files(frames: list[DataFrame]) -> str:
    """Write ``frames`` in order, one parquet file each, to a fresh
    scratch directory and return it. The file source reads files oldest
    first, so frame i is the i-th file of the replay."""
    src = scratch_dir("replay_src")
    for frame in frames:
        frame.coalesce(1).write.mode("append").parquet(src)
    return src


def parity_halves(df: DataFrame, key: str, odd_first: bool = False) -> list[DataFrame]:
    """``df`` split by the parity of ``key``, even ids first unless
    ``odd_first``: the two files of a two-batch replay."""
    first, second = (1, 0) if odd_first else (0, 1)
    return [df.filter(F.col(key) % 2 == first), df.filter(F.col(key) % 2 == second)]


def replay_source(
    spark: SparkSession,
    frames: list[DataFrame],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The stream replaying ``frames`` in order (``replay_files`` then
    ``file_stream``)."""
    return file_stream(spark, replay_files(frames), max_files_per_trigger)


def run(
    writer: DataStreamWriter, name: str, checkpoint: str | None = None
) -> StreamingQuery:
    """Start ``writer`` as query ``name`` over everything its source holds
    now and wait for it to finish. The checkpoint is ``checkpoint`` or a
    fresh scratch directory. Returns the finished query."""
    q = (
        writer.queryName(name)
        .option("checkpointLocation", checkpoint or scratch_dir(f"{name}_ck"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish within {TIMEOUT_S} s")
    return q
