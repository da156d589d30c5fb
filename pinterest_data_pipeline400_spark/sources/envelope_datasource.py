"""Custom Spark DataSource for Kinesis-envelope topic directories —
the reference's Kinesis connector (kinesis.py:34-68) re-expressed as a
FIRST-CLASS Spark data source via PySpark 4's Python DataSource API,
instead of a read-helper function.

``spark.read.format("kinesis_envelope").option("path", dir)`` returns
the same (StreamName, PartitionKey, Data) envelope rows the file-stream
path decodes, but through the V2 connector surface:

  * one :class:`InputPartition` per JSONL part file — scan parallelism
    equals file count, exactly how a sharded stream dump should split
    (and how Kinesis shards map to readers);
  * ``pushFilters`` accepts equality filters on ``StreamName`` /
    ``PartitionKey`` so topic selection prunes INSIDE the connector —
    filtered rows are never materialized, the Python-source analog of
    parquet predicate pushdown;
  * rows are yielded as **pyarrow RecordBatches** (the API's fast
    path), never per-row Python tuples.

At 100 TB the same class reads any sharded JSONL landing zone; the
partition planner is where shard→split logic would grow (size-based
coalescing, offset ranges). This module is self-contained so its
``register`` call ships the class to executors by value.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

ENVELOPE_DDL = "StreamName STRING, PartitionKey STRING, Data STRING"

_PUSHABLE = {"StreamName", "PartitionKey"}


class _EnvelopeFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class EnvelopeReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("kinesis_envelope requires .option('path', <topic dir>)")
        self.root = path
        self.eq_filters: list[tuple[str, str]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb equality filters on the envelope key columns; hand
        everything else back to Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute[0] in _PUSHABLE:
                self.eq_filters.append((f.attribute[0], f.value))
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        files = sorted(
            os.path.join(self.root, f)
            for f in os.listdir(self.root)
            if f.endswith(".jsonl")
        )
        if not files:
            raise FileNotFoundError(f"no .jsonl part files under {self.root}")
        return [_EnvelopeFilePartition(p) for p in files]

    def read(self, partition: _EnvelopeFilePartition):
        # filter columns resolve to tuple indices ONCE, not per row
        idx_filters = [
            (_ENVELOPE_COLS.index(col), val) for col, val in self.eq_filters
        ]
        yield from _read_envelope_file(partition.path, idx_filters)


_ENVELOPE_COLS = ("StreamName", "PartitionKey", "Data")


def _read_envelope_file(path: str, idx_filters: Sequence[tuple[int, str]] = ()):
    """One JSONL part file → one pyarrow RecordBatch — the single parse
    loop shared by the batch and streaming readers (``idx_filters`` are
    the batch reader's pushed equality predicates, pre-resolved to
    column indices; the streaming reader pushes nothing)."""
    import pyarrow as pa

    names, keys, datas = [], [], []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            row = (rec.get("StreamName"), rec.get("PartitionKey"), rec.get("Data"))
            if any(row[i] != val for i, val in idx_filters):
                continue
            names.append(row[0])
            keys.append(row[1])
            datas.append(row[2])
    yield pa.RecordBatch.from_arrays(
        [pa.array(names, pa.string()), pa.array(keys, pa.string()),
         pa.array(datas, pa.string())],
        names=list(_ENVELOPE_COLS),
    )


class EnvelopeStreamReader(DataSourceStreamReader):
    """Micro-batch streaming form of the connector, with REAL offset
    management: the offset is the NAME of the last consumed part file
    (files are the shard analog and arrive append-only with
    monotonically sorting names, like S3 landing from a Kinesis
    Firehose). A micro-batch reads the files whose names sort strictly
    after the start offset and at-or-before the end offset, so the
    selection is a pure name comparison against a re-listed directory —
    an index-based offset (file COUNT, positional slice) would shift
    when a late file's name sorts before already-consumed names,
    re-emitting old files and permanently dropping the new one
    (ADVICE r3 #1). Spark checkpoints the offsets it committed — a
    restarted query resumes after the last committed file name and
    never re-emits, which is the exactly-once contract the reference
    leaned on Databricks checkpoints for (kinesis.py:232-236). The
    flip side of the watermark semantics: a file whose name sorts
    BEFORE the committed offset is treated as late-beyond-watermark
    and skipped, never double-read. One input partition per
    newly-arrived file per micro-batch."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("kinesis_envelope requires .option('path', <topic dir>)")
        self.root = path

    def _names(self) -> list[str]:
        return sorted(f for f in os.listdir(self.root) if f.endswith(".jsonl"))

    def initialOffset(self) -> dict:
        return {"last_file": ""}

    def latestOffset(self) -> dict:
        names = self._names()
        return {"last_file": names[-1] if names else ""}

    def _watermark(self, offset: dict) -> str:
        """Offset → file-name watermark; upgrades a legacy count-based
        checkpoint ({"n_files": N} = the first N names of the sorted
        listing) in place.

        The upgrade is best-effort BY CONSTRUCTION: a count cannot
        identify WHICH files were consumed, so if a late out-of-order
        file landed between the legacy checkpoint and this resume, the
        positional mapping shifts and the file at the boundary may be
        re-read once (duplicate, at-least-once) — which is exactly why
        the offset format moved to names; name offsets never shift.
        If the listing has FEWER files than the count (files were
        deleted — already undefined behavior for a file source), the
        watermark falls to the LAST existing name: possibly skipping
        re-added files, but never replaying the whole directory into
        the sink as duplicates."""
        if "last_file" in offset:
            return offset["last_file"]
        n = offset.get("n_files", 0)
        names = self._names()
        if n <= 0 or not names:
            return ""
        return names[n - 1] if n <= len(names) else names[-1]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = self._watermark(start), self._watermark(end)
        return [
            _EnvelopeFilePartition(os.path.join(self.root, name))
            for name in self._names()
            if lo < name <= hi
        ]

    def read(self, partition: _EnvelopeFilePartition):
        yield from _read_envelope_file(partition.path)

    def commit(self, end: dict) -> None:
        # Source-side cleanup hook: a real queue connector would trim
        # acknowledged shards here; files are left in place (replayable).
        pass


class EnvelopeDataSource(DataSource):
    """``format("kinesis_envelope")`` — envelope-JSONL topic reader,
    batch (``spark.read``) and micro-batch streaming (``readStream``)."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_envelope"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema: StructType) -> EnvelopeReader:
        return EnvelopeReader(self.options)

    def streamReader(self, schema: StructType) -> EnvelopeStreamReader:
        return EnvelopeStreamReader(self.options)


def register_envelope_source(spark) -> None:
    """Idempotently register the connector on a session. Python-source
    filter pushdown ships behind a conf in Spark 4.1 (a reader that
    implements ``pushFilters`` is rejected outright without it).

    Spark checks the name against the sources of the JVM's *active*
    session, not of the session registering: with a sibling session
    active that already has the connector, registering it on this one
    fails with ``DATA_SOURCE_ALREADY_EXISTS``. So this session is made
    active for the call, and the previous one restored after it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    jsession = type(spark)._get_j_spark_session_class(spark._jvm)
    previous = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(EnvelopeDataSource)
    finally:
        if previous.isDefined():
            jsession.setActiveSession(previous.get())
        else:
            jsession.clearActiveSession()
