"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload kafka_tail --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, measured with tracing off.
``--trace 1`` prints the per-layer metrics named in ``BENCHMARK.json``: the
workload runs with every other micro-batch or query pass traced (the
difference between the two halves is ``trace.overhead_share``), then probes
time the layers it bypasses and a backfill drain on ``local[2]`` and
``local[1]``.  The spans are written to
``.perfbench/traces/<workload>-seed<seed>.jsonl`` in the checkout.

The last line is ``{"correct", "attempted", "failed", "metrics"}``;
``failed / attempted`` is the workload's failed share: records lost,
duplicated, misrouted or changed, and queries that raised or disagree with
their oracle.  See ``perfbench/__init__.py`` for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _spec() -> dict:
    """BENCHMARK.json: workload names, metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import kafka_connect_morphlines_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: engine imported from {engine.__file__}, not from {ROOT}", file=sys.stderr)
        return 2

    from perfbench import corpus, kafka_tail
    from perfbench.harness import STATE, RssSampler, Tracer, stop_spark, work_dir

    run = {"kafka_tail": kafka_tail.kafka_tail, "query_corpus": corpus.query_corpus}[args.workload]
    traced = bool(args.trace)
    tracer = Tracer(args.workload, enabled=traced)
    work = work_dir(args.workload)
    t_start = time.perf_counter()
    try:
        with RssSampler() as rss:
            res = run(work, args.seed, args.seconds, tracer, traced)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    if traced:
        tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        res["layers"]["latency.samples"] = float(res["samples"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(res["layers"]) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values = {name: res["layers"].get(name, 0.0) for name in units}
    else:
        res["peak_rss_mb"] = rss.peak_mb
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {name: res[name] for name in units}
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
    print(
        f"# {args.workload} seed={args.seed}: {res['samples']} latency samples, "
        f"{res['failed']}/{res['attempted']} failed, wall {time.perf_counter() - t_start:.1f}s",
        file=sys.stderr,
    )
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
