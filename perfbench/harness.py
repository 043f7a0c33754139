"""Shared benchmark plumbing: work directories, the Spark session, the
outside-in RSS sampler, span tracing and small statistics helpers.

Everything here observes the engine from outside: it times calls into the
engine's public functions, reads ``/proc`` for memory, and reads Spark's
streaming progress.  Nothing is patched into the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# Sized for a 4-core, 15 GB host shared with other jobs.  The 3 GB driver
# heap is fixed (-Xms = -Xmx, no pre-touch): a heap that grows on demand
# expands by GC heuristics, and peak RSS then wandered by a fifth between
# runs of one input.  Two local cores: local[4] next to the JVM's JIT and GC
# threads and the Python driver asks for more CPUs than the host has, so
# any other load on it stalls whole stages; on two cores the same queries
# ran no slower and spread half as much from run to run.
DRIVER_HEAP = "3g"
CORES = 2


def work_dir(workload: str) -> str:
    """A fresh per-process scratch directory inside the checkout.  Spark's
    local dirs and the JVM's temp dir point here too, so a run writes
    nowhere else."""
    import tempfile

    d = os.path.join(STATE, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(d, "tmp")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts (launcher and driver): no hsperfdata
    # file, native libraries unpacked into the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return d


def start_spark(tmp: str, cores: int = CORES):
    """The engine's session factory with this host's sizing."""
    from kafka_connect_morphlines_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark() -> None:
    """Stop the active Spark context and its JVM, then wait until every
    process this benchmark started (JVM, Python workers) has exited."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the JVM exits when its stdin reaches EOF
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        left = _descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        # reap children of ours that already exited
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of an empty sample")
    return float(s[min(len(s), max(1, math.ceil(q * len(s)))) - 1])


def median(values) -> float:
    return float(statistics.median(values))


# --------------------------------------------------------------------------
# peak resident memory of the whole process tree, sampled from outside
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Polls the RSS of this process and all its descendants (JVM, Python
    workers) on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# --------------------------------------------------------------------------
# span tracing, recorded from the benchmark's side of each layer boundary
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: trace id, span id, parent span id, name, start, end.

    The trace id is ``<workload>:<epoch>``, the epoch being the phase the
    span belongs to (set-up, a measured phase, the probes).  A disabled
    tracer records nothing, so an untraced run pays one flag check per
    boundary."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.epoch = "setup"
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"trace": f"{self.workload}:{self.epoch}", "id": sid, "parent": parent, "name": name, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.remove(sid)

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed elsewhere (e.g. on a foreachBatch thread)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"trace": f"{self.workload}:{self.epoch}", "id": len(self.spans), "parent": None, "name": name, "start": start, "end": end})

    def durations(self, name: str, epoch: str | None = None) -> list[float]:
        """Seconds of each finished span called ``name`` (of one epoch)."""
        trace = None if epoch is None else f"{self.workload}:{epoch}"
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and trace in (None, s["trace"])
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def progress_metrics(progresses: list[dict], delivered: int) -> dict[str, float]:
    """Per-trigger phase medians from StreamingQueryProgress.durationMs,
    plus source rows read per record delivered."""
    phases = {
        "streaming.latest_offset_ms_p50": "latestOffset",
        "streaming.query_planning_ms_p50": "queryPlanning",
        "streaming.wal_commit_ms_p50": "walCommit",
        "streaming.commit_offsets_ms_p50": "commitOffsets",
        "streaming.add_batch_ms_p50": "addBatch",
        "streaming.trigger_ms_p50": "triggerExecution",
    }
    data = [p for p in progresses if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {}
    for metric, key in phases.items():
        vals = [p["durationMs"].get(key, 0) for p in data]
        out[metric] = median(vals) if vals else 0.0
    out["streaming.batches"] = float(len(data))
    rows = sum(p["numInputRows"] for p in data)
    out["streaming.input_rows_per_record"] = rows / delivered if delivered else 0.0
    return out
