"""Embedded file-backed Kafka broker as a Python DataSource.

The reference's one transport is a real Kafka consumer/producer
(MorphlineSinkTask.java:129-149, KafkaDataProducerCommandBuilder.java:251-331).
The engine's is Spark's ``format("kafka")`` connector behind sources.kafka —
a separate jar not bundled with pip Spark.  This module is the one jar-less
stand-in: a Spark 4 Python DataSource (pyspark.sql.datasource) that
``install(spark)`` puts behind sources.kafka's format seam, so
``read_kafka_batch/stream``, ``write_kafka_batch`` and ``kafkaProducer
{transport: kafka}`` run their REAL ``.format(...).options(...)`` reader and
writer code against a local log directory.

Semantics (the subset the engine's call sites use):
- ``kafka.bootstrap.servers`` names the broker: a local log directory.
- write: rows with (value[, key][, topic]) columns; ``topic`` option as the
  fixed-topic fallback; keyed rows partition by key hash, unkeyed rows go to
  partition 0 (``numPartitions`` option, default 1).
- read: ``subscribe`` = comma-separated topics; emits the exact kafka-source
  schema (key/value binary, topic, partition, offset, timestamp,
  timestampType) that record.from_kafka_source renames to the envelope.
- offsets are per-(topic,partition) record counts, exactly Kafka's offset
  model.  One slice reader serves both faces: a micro-batch reads the
  ``[start, end)`` slice between two offsets, a batch scan the slice from
  earliest to latest.

Registration is explicit (``install(spark)``) — on a cluster with the real
spark-sql-kafka jar you simply don't install this, and the same pipeline
specs run against real brokers.

Log layout: ``<dir>/<topic>/p<partition>/<monotonic-name>.jsonl`` with one
base64 (key, value, ts) record per non-blank line; offsets are record
positions in filename order.  Files are the commit unit: written as
``.<name>.tmp`` and renamed into place, append-only, never rewritten.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import json
import os
import time
import uuid
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def _log_dir(options: dict) -> str:
    d = options.get("kafka.bootstrap.servers")
    if not d:
        raise ValueError("embedded kafka broker: kafka.bootstrap.servers must name the log directory")
    return d


def _partition_dirs(root: str, topics: list[str] | None) -> list[tuple[str, int, str]]:
    """[(topic, partition, dir)] for every partition directory present."""
    out: list[tuple[str, int, str]] = []
    if not os.path.isdir(root):
        return out
    for topic in sorted(os.listdir(root)):
        tdir = os.path.join(root, topic)
        if not os.path.isdir(tdir) or (topics is not None and topic not in topics):
            continue
        for p in sorted(os.listdir(tdir)):
            if p.startswith("p") and p[1:].isdigit():
                out.append((topic, int(p[1:]), os.path.join(tdir, p)))
    return out


def _records(fh) -> Iterator[bytes]:
    """The record lines of one log file: every non-blank line."""
    return (line for line in fh if line.strip())


def _log_files(pdir: str) -> list[tuple[str, int]]:
    """[(path, records)] of one partition's committed files in offset
    order; a file still being written (``.<name>.tmp``) is not listed."""
    out = []
    for name in sorted(os.listdir(pdir)):
        if name.endswith(".jsonl"):
            path = os.path.join(pdir, name)
            with open(path, "rb") as fh:
                out.append((path, sum(1 for _ in _records(fh))))
    return out


def _row(topic: str, partition: int, offset: int, rec: dict) -> tuple:
    key = base64.b64decode(rec["key"]) if rec.get("key") is not None else None
    value = base64.b64decode(rec["value"]) if rec.get("value") is not None else None
    ts = datetime.datetime.fromtimestamp(rec.get("ts", 0) / 1000.0, tz=datetime.timezone.utc)
    return (key, value, topic, partition, offset, ts, 0)


class _Slice(InputPartition):
    """Offsets ``[start, end)`` of one topic partition, with the log files
    they overlap as ``(path, offset of the file's first record)``."""

    def __init__(self, topic: str, partition: int, start: int, end: int, files: list[tuple[str, int]]):
        self.topic = topic
        self.partition = partition
        self.start = start
        self.end = end
        self.files = files


class _SliceReader(DataSourceStreamReader):
    """The one read path: a stream reader whose offsets are per-(topic,
    partition) record counts; a batch scan reads its earliest-to-latest
    slice through _BatchReader."""

    def __init__(self, options: dict):
        self.root = _log_dir(options)
        subscribe = options.get("subscribe")
        self.topics = [t.strip() for t in subscribe.split(",")] if subscribe else None

    def initialOffset(self) -> dict:
        # earliest: every known partition starts at 0
        return {f"{t}/{p}": 0 for t, p, _ in _partition_dirs(self.root, self.topics)}

    def latestOffset(self) -> dict:
        return {
            f"{t}/{p}": sum(n for _, n in _log_files(d))
            for t, p, d in _partition_dirs(self.root, self.topics)
        }

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        out = []
        for key, hi in end.items():
            lo = start.get(key, 0)
            if hi <= lo:
                continue
            topic, p = key.rsplit("/", 1)
            files, first = [], 0
            for path, n in _log_files(os.path.join(self.root, topic, f"p{p}")):
                if first < hi and first + n > lo:
                    files.append((path, first))
                first += n
            out.append(_Slice(topic, int(p), lo, hi, files))
        return out or [_Slice("", 0, 0, 0, [])]  # a scan needs at least one partition

    def read(self, part: _Slice) -> Iterator[tuple]:
        for path, first in part.files:
            with open(path, "rb") as fh:
                for offset, line in enumerate(_records(fh), first):
                    if offset >= part.end:
                        return
                    if offset >= part.start:
                        yield _row(part.topic, part.partition, offset, json.loads(line))


class _BatchReader(DataSourceReader):
    """A batch scan is the stream's slice from earliest to latest."""

    def __init__(self, options: dict):
        self.slices = _SliceReader(options)

    def partitions(self) -> list[InputPartition]:
        return self.slices.partitions(self.slices.initialOffset(), self.slices.latestOffset())

    def read(self, part: _Slice) -> Iterator[tuple]:
        return self.slices.read(part)


class _BrokerCommit(WriterCommitMessage):
    pass


class _BrokerWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType):
        self.root = _log_dir(options)
        self.fixed_topic = options.get("topic")
        self.n_partitions = int(options.get("numPartitions", 1))
        self.fields = [f.name for f in schema.fields]
        if "value" not in self.fields:
            raise ValueError("kafka write requires a 'value' column")

    def _partition_for(self, key: bytes | None) -> int:
        if key is None or self.n_partitions <= 1:
            return 0
        return int.from_bytes(hashlib.md5(key).digest()[:4], "big") % self.n_partitions

    def write(self, rows: Iterator[Any]) -> WriterCommitMessage:
        by_dest: dict[tuple[str, int], list[str]] = {}
        for row in rows:
            d = row.asDict()
            topic = d.get("topic") or self.fixed_topic
            if not topic:
                raise ValueError("kafka write: no topic column and no topic option")
            key = d.get("key")
            if isinstance(key, str):
                key = key.encode("utf-8")
            value = d.get("value")
            if isinstance(value, str):
                value = value.encode("utf-8")
            rec = {
                "key": base64.b64encode(key).decode() if key is not None else None,
                "value": base64.b64encode(value).decode() if value is not None else None,
                "ts": int(time.time() * 1000),
            }
            by_dest.setdefault((topic, self._partition_for(key)), []).append(json.dumps(rec))
        # one file per (topic, partition) per task — files are the commit
        # unit, written under a temporary name and renamed into place so a
        # reader never sees a partial file
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex}"
        for (topic, part), lines in by_dest.items():
            pdir = os.path.join(self.root, topic, f"p{part}")
            os.makedirs(pdir, exist_ok=True)
            tmp = os.path.join(pdir, f".{name}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, os.path.join(pdir, f"{name}.jsonl"))
        return _BrokerCommit()


class EmbeddedKafkaDataSource(DataSource):
    """Kafka-shaped provider backed by the embedded file broker.

    Spark reserves the provider name ``kafka`` (DATA_SOURCE_ALREADY_EXISTS
    even with no jar on the classpath), so this registers as
    ``embedded-kafka`` and ``install()`` flips the engine's format seam
    (sources.kafka.KAFKA_FORMAT) — every call site still runs its real
    ``.format(...).option(...)`` reader/writer code."""

    @classmethod
    def name(cls) -> str:
        return "embedded-kafka"

    def schema(self) -> str:
        return KAFKA_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SliceReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _BrokerWriter(self.options, schema)


def install(spark) -> None:
    """Register the embedded broker for this session and point the engine's
    kafka call sites (sources.kafka, kafkaProducer transport=kafka) at it.
    Idempotent per session."""
    from kafka_connect_morphlines_spark.sources import kafka as kafka_mod

    try:
        spark.dataSource.register(EmbeddedKafkaDataSource)
    except Exception as e:  # already registered in this session
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
    kafka_mod.KAFKA_FORMAT = EmbeddedKafkaDataSource.name()


def uninstall() -> None:
    """Point the kafka call sites back at the real connector format."""
    from kafka_connect_morphlines_spark.sources import kafka as kafka_mod

    kafka_mod.KAFKA_FORMAT = "kafka"
