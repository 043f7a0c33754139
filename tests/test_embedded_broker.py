"""The native kafka transport, executed end-to-end against the embedded
file-backed broker (sources/embedded_broker.py — a Python DataSource).

The reference's primary loop is a real Kafka consumer/producer
(MorphlineSinkTask.java:129-149, KafkaDataProducerCommandBuilder.java:251-331);
the engine's analogs are read_kafka_batch/stream + kafkaProducer
{transport: kafka}.  These tests run those call sites' REAL
``.format(...).option(...)`` reader/writer code — only the provider behind
the format name differs — proving the option plumbing and the envelope
round-trip without the spark-sql-kafka jar.  The broker's slice reader
is also driven directly on hand-written log files, to pin the offset model
(blank lines, in-flight files, slices across file boundaries)."""

from __future__ import annotations

import pytest

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.sources import embedded_broker
from kafka_connect_morphlines_spark.sources.kafka import (
    read_kafka_batch,
    read_kafka_stream,
    write_kafka_batch,
)


@pytest.fixture()
def broker(spark, tmp_path):
    embedded_broker.install(spark)
    try:
        yield str(tmp_path / "broker")
    finally:
        embedded_broker.uninstall()


def test_batch_roundtrip_envelope(spark, broker):
    df = spark.createDataFrame(
        [("k1", '{"n":1}', "t1"), (None, '{"n":2}', "t2")], "key string, value string, topic string"
    )
    write_kafka_batch(df, broker)
    env = read_kafka_batch(spark, broker, "t1,t2")
    assert env.columns == ["_key", "_value", "_topic", "_kafkaPartition", "_kafkaOffset", "_timestamp", "_timestampType"]
    rows = {r["_topic"]: r for r in env.collect()}
    assert bytes(rows["t1"]["_value"]) == b'{"n":1}' and bytes(rows["t1"]["_key"]) == b"k1"
    assert bytes(rows["t2"]["_value"]) == b'{"n":2}' and rows["t2"]["_key"] is None
    assert all(r["_kafkaOffset"] == 0 and r["_kafkaPartition"] == 0 for r in rows.values())
    # subscribe filters topics
    assert read_kafka_batch(spark, broker, "t1").count() == 1


def test_kafka_producer_native_transport(spark, broker):
    """kafkaProducer {transport: kafka}: properties {bootstrap-servers}
    map onto kafka.* writer options and the publish is a pass-through
    (ref KafkaDataProducerCommandBuilder.java:260-331)."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {"kafkaProducer": {"topic": "out", "properties": {"bootstrap-servers": broker}}},
        ]
    )
    src = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n int")
    assert p(src).count() == 2  # pass-through frame survives
    got = sorted(bytes(r["_value"]).decode() for r in read_kafka_batch(spark, broker, "out").collect())
    assert got == ['{"n":1,"name":"a"}', '{"n":2,"name":"b"}'] or got == ['{"name":"a","n":1}', '{"name":"b","n":2}']


def test_per_record_topic_and_key_partitioning(spark, broker):
    df = spark.createDataFrame(
        [("same", "v1", "t"), ("same", "v2", "t"), ("other", "v3", "t")],
        "key string, value string, topic string",
    )
    write_kafka_batch(df, broker, options={"numPartitions": "4"})
    env = read_kafka_batch(spark, broker, "t")
    rows = env.collect()
    parts = {}
    for r in rows:
        parts.setdefault(bytes(r["_key"]).decode(), set()).add(r["_kafkaPartition"])
    assert len(parts["same"]) == 1  # identical keys land on one partition
    # offsets are dense record positions within each partition (cross-key:
    # "same" and "other" may share a partition; writer-task completion order
    # decides interleaving, density is the contract)
    by_part = {}
    for r in rows:
        by_part.setdefault(r["_kafkaPartition"], []).append(r["_kafkaOffset"])
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p} offsets not dense: {offs}"


def test_sink_connector_loop_kafka_to_pipeline_to_sink(spark, broker, tmp_path):
    """The reference's whole sink-connector loop on the native transport:
    kafka consume -> morphline pipeline -> good rows to the sink, broken
    payloads to the DLQ -- MorphlineSinkTask.java:129-149 end to end,
    with the kafka envelope feeding the same pipeline spec batch mode uses."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.streaming import runner

    records = [
        (None, '{"name":"a","n":1}', "in"),
        (None, '{"name":"b","n":2}', "in"),
        (None, "broken", "in"),
    ]
    write_kafka_batch(spark.createDataFrame(records, "key string, value string, topic string"), broker)

    pipe = compile_pipeline(
        [
            {"readJson": {"inputField": "_value", "schemaDdl": "name string, n int", "flagInvalid": True}},
            {"extractJsonPaths": {"paths": {"name": "/name", "n": "/n"}}},
        ]
    )
    env = read_kafka_stream(spark, broker, "in").withColumn("_value", F.col("_value").cast("string"))
    good, bad = [], []
    q = runner.run_stream(
        env,
        pipe,
        sink=lambda df, epoch: good.extend((r["name"], r["n"]) for r in df.collect()),
        quarantine_sink=lambda df, epoch: bad.extend(r["_value"] for r in df.collect()),
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good) == [("a", 1), ("b", 2)]
    assert bad == ["broken"]


def test_streaming_consume_with_incremental_publish(spark, broker, tmp_path):
    """The sink-connector put loop: a streaming consumer sees the initial
    backlog AND records published while the query runs, in new micro-batches
    (MorphlineSinkTask.java:129-149 contract)."""
    write_kafka_batch(
        spark.createDataFrame([(None, '{"n":1}', "t")], "key string, value string, topic string"), broker
    )
    seen = []
    q = (
        read_kafka_stream(spark, broker, "t")
        .writeStream.foreachBatch(lambda b, e: seen.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    assert len(seen) == 1
    write_kafka_batch(
        spark.createDataFrame([(None, '{"n":2}', "t")], "key string, value string, topic string"), broker
    )
    q.processAllAvailable()
    q.stop()
    values = sorted(bytes(r["_value"]).decode() for r in seen)
    assert values == ['{"n":1}', '{"n":2}']
    assert [r["_kafkaOffset"] for r in sorted(seen, key=lambda r: r["_kafkaOffset"])] == [0, 1]


def _append_log(pdir, name: str, values: list, blank_after: int | None = None) -> None:
    """Write one committed log file in the broker's documented layout."""
    import base64
    import json
    import os

    os.makedirs(pdir, exist_ok=True)
    lines = [json.dumps({"key": None, "value": base64.b64encode(v.encode()).decode(), "ts": 0}) for v in values]
    if blank_after is not None:
        lines.insert(blank_after, "")
        lines.insert(blank_after, "   ")
    with open(os.path.join(pdir, name), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


@pytest.fixture()
def three_files(tmp_path):
    """Topic t, partition 0: offsets 0-3 | 4-6 (with blank lines) | 7-10."""
    root = tmp_path / "log"
    pdir = root / "t" / "p0"
    _append_log(pdir, "000001.jsonl", [f"v{i}" for i in range(0, 4)])
    _append_log(pdir, "000002.jsonl", [f"v{i}" for i in range(4, 7)], blank_after=1)
    _append_log(pdir, "000003.jsonl", [f"v{i}" for i in range(7, 11)])
    return str(root), str(pdir)


def _slice(root: str, start: int, end: int):
    reader = embedded_broker._SliceReader({"kafka.bootstrap.servers": root, "subscribe": "t"})
    [part] = reader.partitions({"t/0": start}, {"t/0": end})
    return part, [(r[4], r[1].decode()) for r in reader.read(part)]


def test_slice_reader_mid_file_slices_across_files(three_files):
    """A [start, end) slice that starts and ends inside files reads exactly
    its offsets, and opens only the files it overlaps."""
    root, pdir = three_files
    reader = embedded_broker._SliceReader({"kafka.bootstrap.servers": root, "subscribe": "t"})
    assert reader.initialOffset() == {"t/0": 0}
    assert reader.latestOffset() == {"t/0": 11}  # blank lines are not records

    part, rows = _slice(root, 2, 9)
    assert rows == [(o, f"v{o}") for o in range(2, 9)]
    assert [f.rsplit("/", 1)[1] for f, _ in part.files] == ["000001.jsonl", "000002.jsonl", "000003.jsonl"]

    part, rows = _slice(root, 5, 7)  # inside the file with blank lines
    assert rows == [(5, "v5"), (6, "v6")]
    assert [(f.rsplit("/", 1)[1], first) for f, first in part.files] == [("000002.jsonl", 4)]

    part, rows = _slice(root, 7, 11)
    assert rows == [(o, f"v{o}") for o in range(7, 11)]
    assert [f.rsplit("/", 1)[1] for f, _ in part.files] == ["000003.jsonl"]


def test_in_flight_tmp_file_is_invisible(spark, broker, tmp_path):
    """A ``.<name>.tmp`` file still being written is not part of the log:
    latestOffset, batch reads and stream reads all skip it until it is
    renamed into place, and then the stream reads it at the next offsets."""
    import os

    pdir = os.path.join(broker, "t", "p0")
    _append_log(pdir, "000001.jsonl", ["a", "b"])
    _append_log(pdir, ".000002.tmp", ["c"])
    reader = embedded_broker._SliceReader({"kafka.bootstrap.servers": broker, "subscribe": "t"})
    assert reader.latestOffset() == {"t/0": 2}
    assert sorted(bytes(r["_value"]).decode() for r in read_kafka_batch(spark, broker, "t").collect()) == ["a", "b"]

    seen = []
    q = (
        read_kafka_stream(spark, broker, "t")
        .writeStream.foreachBatch(lambda b, e: seen.extend((r["_kafkaOffset"], bytes(r["_value"]).decode()) for r in b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [(0, "a"), (1, "b")]
        os.replace(os.path.join(pdir, ".000002.tmp"), os.path.join(pdir, "000002.jsonl"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [(0, "a"), (1, "b"), (2, "c")]


def test_offsets_dense_per_partition_across_files(spark, broker):
    """Three publishes into four partitions: in every partition the offsets
    are 0..n-1 with no gap or repeat, across the files each publish adds."""
    for batch in range(3):
        rows = [(f"k{i}", f"v{batch}-{i}", "t") for i in range(12)]
        write_kafka_batch(spark.createDataFrame(rows, "key string, value string, topic string"), broker, options={"numPartitions": "4"})
    by_part = {}
    for r in read_kafka_batch(spark, broker, "t").collect():
        by_part.setdefault(r["_kafkaPartition"], []).append(r["_kafkaOffset"])
    assert sum(len(o) for o in by_part.values()) == 36
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p} offsets not dense: {offs}"


def test_batch_and_stream_envelopes_identical(spark, broker, tmp_path):
    """The batch and the stream face give the same envelope columns and,
    over the same log, the same rows — a pipeline that references
    _kafkaOffset runs unchanged in both modes."""
    records = [(None, '{"n":1}', "demo"), ("k", '{"n":2}', "demo")]
    write_kafka_batch(spark.createDataFrame(records, "key string, value string, topic string"), broker)
    batch = read_kafka_batch(spark, broker, "demo")
    stream = read_kafka_stream(spark, broker, "demo")
    assert stream.schema == batch.schema

    seen = []
    q = (
        stream.writeStream.foreachBatch(lambda b, e: seen.extend(tuple(r) for r in b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    by_offset = lambda r: r[4]  # noqa: E731
    assert sorted(seen, key=by_offset) == sorted((tuple(r) for r in batch.collect()), key=by_offset)
    assert sorted(r[4] for r in seen) == [0, 1]
