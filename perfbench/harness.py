"""Measurement plumbing: engine cold start / teardown, spans in the
reference's Chrome-trace shape, Spark status-store counters per request,
and a peak-RSS sampler over the benchmark's process tree.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------ engine life


def cold_start(app: str):
    """Launch a fresh JVM-backed session through the engine's own
    ``session.get_spark``. Returns ``(spark, seconds)``."""
    t0 = time.perf_counter()
    from columnar_estimator_sample_spark.session import get_spark
    spark = get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit, so the
    next :func:`cold_start` launches a new one. The JVM stops the Python
    worker daemon it forked before it exits."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ spans


class Tracer:
    """Spans kept in memory (name, start, end, parent, request id) and
    written once, at the end, as one Chrome-trace ``traceEvents`` document
    per line — the shape ``plans.profiler`` emits and
    ``operators.flatten.flatten_trace`` reads. Disabled tracers cost one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = {"name": name, "request": request, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its child spans cover
        (children never overlap: one client thread)."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] >= 0:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write_chrome_trace(self, path: str) -> None:
        from columnar_estimator_sample_spark.plans.profiler import (
            write_timeline,
        )
        selfs = self.self_times()
        events = []
        for i, s in enumerate(self.spans):
            events.append({
                "ph": "X", "cat": "perfbench", "name": s["name"],
                "pid": 0, "tid": 0,
                "ts": int((s["start"] - self._t0) * 1e6),
                "dur": int((s["end"] - s["start"]) * 1e6),
                "args": {"name": s["name"], "op": s["request"],
                         "parent": s["parent"], "id": i,
                         "self_us": int(selfs[i] * 1e6)},
            })
        write_timeline({"traceEvents": events}, path)


# ----------------------------------------------------- status-store counters


class JobCounters:
    """Reads the Spark status store for every job started between two
    points of the single client thread. Job ids are dense and increasing,
    so the jobs of one request are the id range between its two reads of
    the scheduler's next job id — this also catches jobs that run under
    another job group (a streaming query's micro-batches)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def collect(self, first: int, end: int) -> dict[str, float]:
        """Totals over jobs ``first .. end-1``: wall time covered by the
        jobs, job/stage/task counts and summed stage metrics."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
        intervals = []
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Exception:  # py4j error: job evicted or never posted
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # py4j error: stage skipped, never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["task_busy_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / 2**20
        out["exec_s"] = _union_ms(intervals) / 1e3
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return float(total)


# ------------------------------------------------------------------- RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:  # process exited
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (JVM, PySpark daemon and workers) from /proc; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in tree_pids(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ------------------------------------------------------------ statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(1, -(-len(s) * q // 100))  # ceil(n * q / 100), at least 1
    return s[int(k) - 1]

