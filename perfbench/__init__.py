"""The repository benchmark (``BENCHMARK.json``; entry point ``run.py``).

Two workloads, each seeded by ``--seed``; the engine sees only the
generated inputs (broker log files, parquet tables).  Spark runs on
``local[2]`` with a fixed 3 GB driver heap (see ``harness.py``); inputs are
generated in the benchmark process.  Outputs are checked after the timed
region, and every mismatch is counted in ``failed``.

``kafka_tail`` -- open loop, the latency measure.
    Input: a 4-partition topic of JSON envelopes, 5% malformed.  It holds
    10,000 records of history in 40 files.  Set-up catches up on that
    history under the checkpoint the live query resumes from.  Then a
    generator thread appends 1,000 records/s for ``--seconds``: one file
    per partition every 100 ms, by atomic rename into the broker's log
    layout, on a schedule that does not wait for the engine.
    Engine path: ``sources.kafka.read_kafka_stream`` over
    ``sources.embedded_broker``; the ``envelopes.conf`` morphline
    (readJson(flagInvalid) -> extractJsonPaths -> setValues ->
    convertTimestamp) loaded by ``hocon`` and compiled by ``pipeline``;
    ``streaming.runner.run_stream`` on the default trigger.  Its sink
    republishes good rows with ``sources.kafka.write_kafka_batch``; its
    quarantine sink publishes flagged rows to a DLQ topic.
    Latency runs from a record's due time at the generator to the broker
    write stamp of its published copy.  Per-trigger costs dominate:
    offset discovery over the whole log, planning, WAL/commit and
    ``Pipeline.apply``.  They grow with the log, not with the rate.
    Check: every generated record is published exactly once, to the
    topic its validity calls for, with the expected field values.
    Bypasses: ``functions``, ``plans``.

``query_corpus`` -- closed loop over the ``plans.queries`` corpus.
    Input: seeded TPC-H-like tables (400 customers, 4,000 orders, 16,000
    lineitems, 533 parts, 400 documents with 5% case/spacing copies and 10%
    one-token near duplicates, 400 64-d embeddings, 1,600 events).
    Set-up starts Spark, runs every query cold on tables a tenth that
    size, then runs two passes over the measured tables, so the measured
    passes start past the steep part of the JIT warm-up.
    Passes over the eight queries in ``corpus.py`` (noop writer) then
    repeat for ``--seconds``.
    Check: each query's collected result equals its DuckDB oracle SQL.
    Bypasses: the broker, streaming, the morphline commands.

Traced runs (``--trace 1``) print the per-layer metrics instead.  Layers
a workload bypasses are probed after it on the same session: kafka_tail
runs two passes of the corpus on tables of 40 customers; query_corpus
tails a 2,000-record topic for 5 s.  Both end with the scaling probe, a
15,000-record backfill drain on ``local[2]`` and then on ``local[1]``.
"""
