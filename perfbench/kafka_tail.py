"""``kafka_tail``: an open-loop live tail over the embedded broker.

The engine runs its consume -> transform -> DLQ -> publish path: a
``sources.kafka`` stream over the embedded broker, the ``envelopes.conf``
morphline compiled by ``pipeline.compile_pipeline``, and
``streaming.runner.run_stream`` whose sink republishes good rows with
``sources.kafka.write_kafka_batch`` and whose quarantine sink publishes
flagged rows to a DLQ topic.
"""

from __future__ import annotations

import ast
import datetime
import json
import os
import random
import threading
import time

from perfbench import gen
from perfbench.harness import CORES, median, progress_metrics, quantile, start_spark

CONF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "envelopes.conf")
MORPHLINE_ID = "envelopes"
TOPIC = "tail"
HISTORY = 10_000  # committed before the live phase; 40 files
RATE = 1000  # records per second, all partitions together
TICK_S = 0.1  # one file per partition per tick
DRAIN_TIMEOUT_S = 40
BACKFILL = 15_000  # traced runs: the drain behind the local[2] / local[1] scaling probe


def _progress_epoch_s(iso: str) -> float:
    """Trigger start of a StreamingQueryProgress, as epoch seconds."""
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _end_offset_total(progress) -> int:
    """Records committed so far: the sum of the latest progress's
    per-partition end offsets (PySpark renders them as a dict's repr)."""
    if not progress or not progress["sources"]:
        return 0
    return sum((ast.literal_eval(progress["sources"][0]["endOffset"]) or {}).values())


class Engine:
    """One Spark session running the benchmark morphline over the broker."""

    def __init__(self, work: str, tracer):
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.broker = os.path.join(work, "broker")
        self.tracer = tracer
        self.spark = None
        self.pipe = None
        # output topic prefix the sinks publish under; set per phase
        self.phase = "setup"
        self.sink_s: list[float] = []
        self.dlq_s: list[float] = []
        # traced live phase: tracing flips after every micro-batch; the
        # tracer state of each batch id, for the tracing overhead
        self.alternate = False
        self.traced_batch: dict[int, bool] = {}

    def setup(self) -> float:
        """get_spark + broker install + HOCON load + compile, then catch up
        on the topic's history under the checkpoint the live query resumes
        from (this first drain also warms the path).  Returns wall seconds."""
        from kafka_connect_morphlines_spark import compile_pipeline, hocon
        from kafka_connect_morphlines_spark.sources import embedded_broker

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                self.spark = start_spark(self.tmp)
            with tr.span("sources.embedded_broker.install"):
                embedded_broker.install(self.spark)
            with tr.span("hocon.load"):
                spec = hocon.load(CONF)
            with tr.span("pipeline.compile"):
                self.pipe = compile_pipeline(spec, morphline_id=MORPHLINE_ID)
            with tr.span("catch_up"):
                self.drain(TOPIC, TOPIC)
        return time.perf_counter() - t0

    def pipeline(self):
        """The compiled pipeline; under tracing, a subclass that times each
        ``Pipeline.apply`` call (one per micro-batch)."""
        if not self.tracer.enabled:
            return self.pipe
        from kafka_connect_morphlines_spark.pipeline import Pipeline

        tracer = self.tracer

        class TimedPipeline(Pipeline):
            def apply(self, df):
                with tracer.span("pipeline.apply"):
                    return Pipeline.apply(self, df)

        p = self.pipe
        return TimedPipeline(p.commands, p.morphline_id, p.first_only, p.metrics)

    def sinks(self):
        """Good rows -> ``<phase>-out`` as JSON of the parsed fields; flagged
        rows -> ``<phase>-dlq`` with the original key and bytes."""
        from pyspark.sql import functions as F

        from kafka_connect_morphlines_spark.sources.kafka import write_kafka_batch

        def timed(name: str, bucket: list[float], publish):
            def call(df, epoch):
                t0 = time.perf_counter()
                publish(df)
                t1 = time.perf_counter()
                bucket.append(t1 - t0)
                self.tracer.record(name, t0, t1)

            return call

        def last(call):
            # runs after the quarantine sink, so it ends the micro-batch
            def end_batch(df, epoch):
                call(df, epoch)
                if self.alternate:
                    self.traced_batch[epoch] = self.tracer.enabled
                    self.tracer.enabled = not self.tracer.enabled

            return end_batch

        def sink(df):
            out = df.select(F.col("_key").alias("key"), F.to_json(F.struct("id", "user", "n", "ts", "doc_key")).alias("value"))
            write_kafka_batch(out, self.broker, topic=f"{self.phase}-out")

        def dlq(df):
            write_kafka_batch(df.select(F.col("_key").alias("key"), F.col("_value").alias("value")), self.broker, topic=f"{self.phase}-dlq")

        return last(timed("runner.sink", self.sink_s, sink)), timed("runner.dlq", self.dlq_s, dlq)

    def start(self, checkpoint: str, topic: str, trigger=None):
        from kafka_connect_morphlines_spark.sources.kafka import read_kafka_stream
        from kafka_connect_morphlines_spark.streaming import runner

        sink, dlq = self.sinks()
        source = read_kafka_stream(self.spark, self.broker, topic)
        return runner.run_stream(
            source, self.pipeline(), sink=sink, quarantine_sink=dlq,
            checkpoint=os.path.join(self.work, checkpoint), trigger=trigger,
        )

    def drain(self, checkpoint: str, topic: str) -> float:
        """Read ``topic`` from offset 0 to its current end with
        ``availableNow``, publishing under the current phase; returns the
        wall seconds."""
        t0 = time.perf_counter()
        with self.tracer.span("runner.drain"):
            q = self.start(checkpoint, topic, trigger={"availableNow": True})
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"drain of {topic} failed: {q.exception()}")
        return time.perf_counter() - t0


def check_published(broker: str, phase: str, truth: dict, due_ms: dict | None = None) -> tuple[dict[int, float], float, int]:
    """Compare ``<phase>-out`` / ``<phase>-dlq`` with the generator truth
    ``{id: (value, expected row or None)}``.

    Returns ``{id: latency}`` (publish stamp minus due time, for ids in
    ``due_ms``), the last publish stamp and the number of wrong records:
    each id missing, duplicated, routed to the wrong topic or published with
    other field values than the truth, and each id that was never generated."""
    seen: dict[int, int] = {}
    wrong = 0
    latencies: dict[int, float] = {}
    last_ms = 0.0
    for topic, good in ((f"{phase}-out", True), (f"{phase}-dlq", False)):
        for rid, value, ts in gen.read_topic(broker, topic):
            seen[rid] = seen.get(rid, 0) + 1
            last_ms = max(last_ms, ts)
            if rid not in truth:
                wrong += 1
                continue
            raw, expect = truth[rid]
            if good:
                d = json.loads(value)
                wrong += expect != f"{d.get('id')}|{d.get('user')}|{d.get('n')}|{d.get('ts')}|{d.get('doc_key')}"
            else:
                wrong += expect is not None or value != raw
            if due_ms is not None and seen[rid] == 1:
                latencies[rid] = ts - due_ms[rid]
    wrong += sum(1 for rid in truth if seen.get(rid, 0) != 1)
    return latencies, last_ms, wrong


class Generator(threading.Thread):
    """Open-loop producer: every ``TICK_S`` it appends one file per
    partition, on a schedule that does not wait for the engine."""

    def __init__(self, broker: str, topic: str, seed: int, first_id: int, seconds: float):
        super().__init__(name="tail-generator", daemon=True)
        self.rng = random.Random(seed * 7919)
        self.topic = gen.Topic(broker, topic)
        self.topic.seq = 1_000_000  # sorts after the history files
        self.first_id = first_id
        self.ticks = int(round(seconds / TICK_S))
        self.per_tick = int(RATE * TICK_S)
        self.truth: dict[int, tuple[bytes, str | None]] = {}
        self.due_ms: dict[int, float] = {}
        self.late_ms: list[float] = []
        self.start_ms = 0.0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            rid = self.first_id
            t0 = time.perf_counter()
            self.start_ms = time.time() * 1000
            for k in range(self.ticks):
                delay = t0 + k * TICK_S - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                due_ms = self.start_ms + k * TICK_S * 1000
                rows = []
                for _ in range(self.per_tick):
                    value, row = gen.envelope(self.rng, rid)
                    rows.append((rid, value))
                    self.truth[rid] = (value, row)
                    self.due_ms[rid] = due_ms
                    rid += 1
                self.topic.append(rows, int(time.time() * 1000))
                self.late_ms.append(time.time() * 1000 - due_ms)
        except Exception as e:  # re-raised by the caller after join
            self.error = e


def live_phase(eng: Engine, topic: str, seed: int, seconds: float, history: int) -> tuple[Generator, dict]:
    """Tail ``topic``, whose history is committed under the checkpoint of
    the same name, while the generator appends for ``seconds``.  Returns the
    generator and the phase's streaming-progress and sink-time metrics."""
    del eng.sink_s[:], eng.dlq_s[:]
    q = eng.start(topic, topic)
    deadline = time.monotonic() + 30
    while "Waiting for" not in q.status["message"] and time.monotonic() < deadline:
        time.sleep(0.05)
    phase_start = time.time()
    g = Generator(eng.broker, topic, seed, history, seconds)
    g.start()
    g.join()
    if g.error is not None:
        raise g.error
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    while _end_offset_total(q.lastProgress) < history + len(g.truth) and time.monotonic() < deadline:
        time.sleep(0.05)
    progress = [
        {"batchId": p["batchId"], "numInputRows": int(p["numInputRows"]), "durationMs": dict(p["durationMs"])}
        for p in q.recentProgress if _progress_epoch_s(p["timestamp"]) >= phase_start
    ]
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"tail query failed: {q.exception()}")
    stats = progress_metrics(progress, len(g.truth))
    stats["runner.sink_ms_sum"] = sum(eng.sink_s) * 1000
    stats["runner.dlq_ms_sum"] = sum(eng.dlq_s) * 1000
    if eng.alternate:
        # trigger time of the traced batches against the untraced ones
        ms = {True: [], False: []}
        for p in progress:
            if p["numInputRows"] and p["batchId"] in eng.traced_batch:
                ms[eng.traced_batch[p["batchId"]]].append(p["durationMs"]["triggerExecution"])
        if ms[True] and ms[False]:
            stats["trace.overhead_share"] = median(ms[True]) / median(ms[False]) - 1
    return g, stats


def kafka_tail(work: str, seed: int, seconds: float, tracer, traced: bool) -> dict:
    res, eng = tail_run(work, seed, seconds, tracer, traced, HISTORY)
    if traced:
        from perfbench import corpus

        # the plans layer this workload bypasses, probed on small tables
        # before the scaling probe leaves the session on local[1]
        res["layers"].update(corpus.plans_probe(eng.spark, work, seed, tracer, res))
        res["layers"].update(scaling_probe(eng, seed, res))
    return res


def tail_run(work: str, seed: int, seconds: float, tracer, traced: bool, size: int) -> tuple[dict, Engine]:
    """Set-up, catch-up on ``size`` records of history, then the live
    phase; a traced run traces every other micro-batch of it and adds the
    Kafka layer probes.  query_corpus's traced run calls it on a small topic."""
    eng = Engine(work, tracer)
    history = gen.fill_topic(eng.broker, TOPIC, seed, first_id=0, count=size, per_file=size // 40)
    setup_s = eng.setup()
    res = {"setup_s": setup_s, "attempted": size, "failed": check_published(eng.broker, "setup", history)[2]}

    tracer.epoch = eng.phase = "live"
    eng.alternate = traced
    g, stats = live_phase(eng, TOPIC, seed, seconds, size)
    eng.alternate, tracer.enabled = False, traced
    lat, last_ms, wrong = check_published(eng.broker, "live", g.truth, g.due_ms)
    res["attempted"] += len(g.truth)
    res["failed"] += wrong
    # records delivered per second, from the first due time to the last publish
    res["throughput_rps"] = len(lat) / ((last_ms - g.start_ms) / 1000) if lat else 0.0
    res["latency_p50_ms"] = quantile(lat.values(), 0.5)
    res["latency_p99_ms"] = quantile(lat.values(), 0.99)
    res["samples"] = len(lat)
    if traced:
        res["layers"] = {
            **stats,
            **layer_probes(eng),
            "generator.records": float(len(g.truth)),
            "generator.late_ms_max": max(g.late_ms),
        }
    return res, eng


def layer_probes(eng: Engine) -> dict:
    """Per-layer numbers of a traced run: set-up and apply spans, then
    sources and commands probes timed against the finished topic."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch, write_kafka_batch
    from kafka_connect_morphlines_spark.streaming.runner import quarantine_split

    tr = eng.tracer
    spark = eng.spark
    out: dict[str, float] = {}
    out["session.get_spark_s"] = tr.durations("session.get_spark")[0]
    out["hocon.load_s"] = tr.durations("hocon.load")[0]
    out["pipeline.compile_s"] = tr.durations("pipeline.compile")[0]
    applies = tr.durations("pipeline.apply", epoch="live")
    out["pipeline.apply_ms_p50"] = median(applies) * 1000 if applies else 0.0
    out["pipeline.apply_calls"] = float(len(applies))
    files, size = gen.log_size(eng.broker, TOPIC)
    out["broker.log_files"] = float(files)
    out["broker.log_bytes"] = float(size)
    tr.epoch = "probes"

    # sources.kafka: batch read of the whole topic, batch write of a fixed frame
    reads, writes = [], []
    frame = spark.range(10_000).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit('{"id":'), F.col("id").cast("string"), F.lit("}")).alias("value"),
    )
    for i in range(2):
        with tr.span("sources.kafka.read_batch"):
            t0 = time.perf_counter()
            n = read_kafka_batch(spark, eng.broker, TOPIC).count()
            reads.append(n / (time.perf_counter() - t0))
        with tr.span("sources.kafka.write_batch"):
            t0 = time.perf_counter()
            write_kafka_batch(frame, eng.broker, topic=f"probe-write{i}", options={"numPartitions": "4"})
            writes.append(10_000 / (time.perf_counter() - t0))
    out["sources.kafka.read_batch_rps"] = median(reads)
    out["sources.kafka.write_batch_rps"] = median(writes)

    # commands: each command's marginal cost, timed as prefix chains over a
    # cached batch copy of the topic
    env = read_kafka_batch(spark, eng.broker, TOPIC).cache()
    env.count()
    cmds = eng.pipe.commands
    prefix_s: dict[int, list[float]] = {k: [] for k in range(len(cmds) + 1)}
    for _ in range(2):
        for k in range(len(cmds) + 1):
            df = env
            for c in cmds[:k]:
                df = c(df)
            with tr.span(f"commands.prefix{k}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                prefix_s[k].append(time.perf_counter() - t0)
    prev = median(prefix_s[0])
    for k, c in enumerate(cmds, start=1):
        cur = median(prefix_s[k])
        out[f"commands.{c.name}.marginal_ms"] = (cur - prev) * 1000
        prev = cur
    out["commands.dlq_rows"] = float(quarantine_split(eng.pipe.apply(env))[1].count())
    env.unpersist()
    return out


def scaling_probe(eng: Engine, seed: int, res: dict) -> dict:
    """Backfill rate of a separate topic, first on the warm session
    (``local[CORES]``), then on local[1]: a new SparkContext of the same
    JVM, warmed by a small drain first.  Leaves the session on local[1]."""
    from kafka_connect_morphlines_spark.sources import embedded_broker

    out = {}
    eng.tracer.enabled = False
    truth = gen.fill_topic(eng.broker, "backfill", seed + 1, first_id=0, count=BACKFILL, per_file=BACKFILL // 12)
    warm = gen.fill_topic(eng.broker, "backfill-warm", seed + 2, first_id=0, count=1000, per_file=250)
    for cores in (CORES, 1):
        if cores == 1:
            eng.spark.stop()
            eng.spark = start_spark(eng.tmp, cores)
            embedded_broker.install(eng.spark)
            eng.phase = "backfill-warm"
            eng.drain(eng.phase, eng.phase)
            res["attempted"] += len(warm)
            res["failed"] += check_published(eng.broker, eng.phase, warm)[2]
        eng.phase = f"backfill-local{cores}"
        dt = eng.drain(eng.phase, "backfill")
        res["attempted"] += BACKFILL
        res["failed"] += check_published(eng.broker, eng.phase, truth)[2]
        out[f"scaling.backfill_rps_local{cores}"] = BACKFILL / dt
    return out
