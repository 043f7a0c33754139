"""``query_corpus``: warm passes over a fixed subset of the ``plans.queries``
corpus (the ``functions``/``plans`` layers), each query executed through
the noop writer and checked against its DuckDB oracle SQL.
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

from perfbench import gen
from perfbench.harness import median, quantile, start_spark

# A fixed subset of bench.py's HEADLINE names, so numbers stay comparable
# with that harness; one per operator family, none dominating a pass
# (dedup_minhash_lsh took a third of a pass at this scale, so the cheaper
# normalized_dedup_keys stands in for the dedup family).
QUERIES = [
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "sessionize",
    "normalized_dedup_keys",
    "bm25_topk_search",
    "text_quality",
    "fuzzy_join_part_names",
    "embedding_cosine_topk",
]
TABLES = ["region", "nation", "customer", "part", "orders", "lineitem", "events", "documents", "embeddings"]
CUSTOMERS = 400  # measured tables: 16k lineitems, 400 documents
WARMUP_CUSTOMERS = 40  # set-up's first, cold pass runs on a tenth of that
# then set-up runs this many passes over the measured tables: the JIT takes
# several passes to settle, and a window that starts on that curve measures
# how far down it the host got, not the queries
WARMUP_PASSES = 2
# traced runs: the Kafka-layer probe, a short tail of a small topic
KAFKA_PROBE_S = 5
KAFKA_PROBE_RECORDS = 2000


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _normalized(cols, rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _run_pass(spark, specs, data_dir: str, tracer, times: dict, failed: set) -> float:
    t_pass = time.perf_counter()
    for name in QUERIES:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"plans.{name}"):
                specs[name].build(spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # a query that raises is a failed operation
            failed.add(name)
            print(f"# {name}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}", file=sys.stderr)
        times.setdefault(name, []).append(time.perf_counter() - t0)
    return time.perf_counter() - t_pass


def check_oracles(spark, specs, data_dir: str) -> list[str]:
    """Names of queries whose Spark result differs from the DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for tbl in TABLES:
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{os.path.join(data_dir, tbl)}.parquet')")
        bad = []
        for name in QUERIES:
            df = specs[name].build(spark, data_dir)
            mine = _normalized(df.columns, [tuple(r) for r in df.collect()])
            res = con.execute(specs[name].oracle)
            theirs = _normalized([d[0] for d in res.description], res.fetchall())
            if mine != theirs:
                print(f"# {name}: result differs from the DuckDB oracle ({len(mine[1])} vs {len(theirs[1])} rows)", file=sys.stderr)
                bad.append(name)
        return bad
    finally:
        con.close()


def query_corpus(work: str, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from kafka_connect_morphlines_spark.plans.queries import QUERIES as SPECS

    data = os.path.join(work, "tables")
    warm = os.path.join(work, "warm_tables")
    gen.write_tables(data, seed, CUSTOMERS)
    gen.write_tables(warm, seed + 1, WARMUP_CUSTOMERS)
    cold: dict[str, list[float]] = {}
    failed: set[str] = set()

    t0 = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            spark = start_spark(os.path.join(work, "tmp"))
        with tracer.span("warmup"):
            _run_pass(spark, SPECS, warm, tracer, cold, failed)
            for _ in range(WARMUP_PASSES):
                _run_pass(spark, SPECS, data, tracer, {}, failed)
    setup_s = time.perf_counter() - t0

    # passes repeat for ``seconds``; a traced run traces every other pass,
    # and the two halves give the tracing overhead
    times: dict[str, list[float]] = {}
    passes: dict[bool, list[float]] = {False: [], True: []}
    t_end = time.perf_counter() + seconds
    while not passes[traced] or time.perf_counter() < t_end:
        n = len(passes[False]) + len(passes[True])
        tracer.enabled = traced and n % 2 == 1
        tracer.epoch = f"pass{n}"
        passes[tracer.enabled].append(_run_pass(spark, SPECS, data, tracer, times, failed))
    tracer.enabled = traced
    wrong = set(check_oracles(spark, SPECS, data)) | failed
    # each query's median over the passes; a pass holds too few queries for
    # tail percentiles, so p99 reads as the slowest query's median
    per_query = [median(times[n]) * 1000 for n in QUERIES]
    res = {
        "setup_s": setup_s,
        "attempted": sum(len(v) for v in times.values()),
        "failed": sum(len(times[n]) for n in wrong),
        "throughput_rps": len(QUERIES) / (sum(per_query) / 1000),
        "latency_p50_ms": median(per_query),
        "latency_p99_ms": quantile(per_query, 0.99),
        "samples": sum(len(v) for v in times.values()),
    }
    if traced:
        from perfbench import kafka_tail

        layers = {f"plans.{n}.warm_s": median(times[n]) for n in QUERIES}
        layers.update({f"plans.{n}.cold_s": cold[n][0] for n in QUERIES})
        layers["session.get_spark_s"] = tracer.durations("session.get_spark")[0]
        layers["trace.overhead_share"] = median(passes[True]) / median(passes[False]) - 1
        layers["generator.records"] = float(CUSTOMERS * 10 * 4)
        # the Kafka layers this workload bypasses, probed with a short tail
        # of a small topic on the same session
        probe, eng = kafka_tail.tail_run(os.path.join(work, "kafka"), seed, KAFKA_PROBE_S, tracer, True, KAFKA_PROBE_RECORDS)
        res["attempted"] += probe["attempted"]
        res["failed"] += probe["failed"]
        res["layers"] = {**probe["layers"], **layers, **kafka_tail.scaling_probe(eng, seed, res)}
    return res


def plans_probe(spark, work: str, seed: int, tracer, res: dict) -> dict:
    """plans.<query>.cold_s / warm_s for a traced run of a workload that
    bypasses the plans layer: two passes over tables a tenth the size."""
    from kafka_connect_morphlines_spark.plans.queries import QUERIES as SPECS

    tables = os.path.join(work, "probe_tables")
    gen.write_tables(tables, seed, WARMUP_CUSTOMERS)
    times: dict[str, list[float]] = {}
    failed: set[str] = set()
    tracer.epoch = "plans-probe"
    for _ in range(2):
        _run_pass(spark, SPECS, tables, tracer, times, failed)
    res["attempted"] += 2 * len(QUERIES)
    res["failed"] += 2 * len(failed)
    out = {f"plans.{n}.cold_s": times[n][0] for n in QUERIES}
    out.update({f"plans.{n}.warm_s": times[n][1] for n in QUERIES})
    return out
