"""Spans around the calls into each layer, and the counters read at the
same boundaries: Spark jobs, tasks, shuffle and spill from the event
log, JVM heap peaks, persistent RDDs, micro-batch progress and host CPU
steal. Spans stay in memory; the event log is read once the session has
stopped and flushed it."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies of the host, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_pct(start: tuple[int, int] | None, end: tuple[int, int] | None) -> float:
    if start is None or end is None or end[1] <= start[1]:
        return 0.0
    return 100.0 * (end[0] - start[0]) / (end[1] - start[1])


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Sum of the heap pools' peaks since the last reset (an upper bound
    of the heap's own peak: pools peak at different moments)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


class Tracer:
    """Named spans, each also a Spark job group, so the event log can
    attribute jobs and stages to it. Jobs started off the calling thread
    (streaming micro-batches) carry their query's group instead; they are
    attributed by submission time, which is exact because spans never
    overlap."""

    def __init__(self, spark):
        self.spark = spark
        #: (name, start_ms, end_ms, counted): ``counted`` spans make up
        #: the pass; the others are references (the job.submit span).
        self.spans: list[tuple[str, float, float, bool]] = []

    @contextlib.contextmanager
    def span(self, name: str, counted: bool = True):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, start, time.time() * 1000, counted))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> list[float]:
        return [(e - s) / 1000 for n, s, e, _ in self.spans if n == name]

    def _owner(self, group: str | None, submitted_ms: float) -> tuple[str, bool] | None:
        for name, _, _, counted in self.spans:
            if group == name:
                return name, counted
        # No span's group: a streaming query's own group (its run id) or
        # none at all. Attribute by time.
        for name, s, e, counted in self.spans:
            if s <= submitted_ms <= e:
                return name, counted
        return None

    def spark_counters(self, event_log_dir: str) -> dict[str, float]:
        """Jobs, tasks, shuffle and spill of the counted spans, read from
        the (uncompressed) event log of the stopped session."""
        jobs = tasks = 0
        shuffle_w = shuffle_r = spill = 0
        stage_counted: dict[int, bool] = {}
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>.
        paths = sorted(glob.glob(os.path.join(event_log_dir, "*", "events_*")))
        for path in paths or glob.glob(os.path.join(event_log_dir, "*")):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        owner = self._owner(props.get("spark.jobGroup.id"), ev["Submission Time"])
                        if owner and owner[1]:
                            jobs += 1
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        props = ev.get("Properties") or {}
                        owner = self._owner(
                            props.get("spark.jobGroup.id"), info.get("Submission Time", 0)
                        )
                        stage_counted[info["Stage ID"]] = bool(owner and owner[1])
                    elif kind == "SparkListenerTaskEnd":
                        if not stage_counted.get(ev["Stage ID"]):
                            continue
                        tasks += 1
                        m = ev.get("Task Metrics") or {}
                        r = m.get("Shuffle Read Metrics") or {}
                        shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return {
            "spark.jobs": jobs,
            "spark.tasks": tasks,
            "spark.shuffle_write_mb": shuffle_w / 2**20,
            "spark.shuffle_read_mb": shuffle_r / 2**20,
            "spark.spill_mb": spill / 2**20,
        }


class BatchProgress:
    """Micro-batch durations of every streaming query, as reported to a
    StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._lock = threading.Lock()
        self.batches: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with outer._lock:
                        outer.batches.append(dict(p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def take(self, expected: int, timeout_s: float = 10.0) -> list[dict]:
        """The batches reported since the last call; waits for the
        listener bus to deliver ``expected`` of them."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if len(self.batches) >= expected:
                    break
            time.sleep(0.05)
        with self._lock:
            out, self.batches = self.batches, []
        return out


def batch_medians(batches: list[dict]) -> dict[str, float]:
    if not batches:
        return {"streaming.batch_s": 0.0, "streaming.add_batch_s": 0.0, "streaming.bookkeeping_s": 0.0}
    total = [b.get("triggerExecution", 0) / 1000 for b in batches]
    add = [b.get("addBatch", 0) / 1000 for b in batches]
    return {
        "streaming.batch_s": statistics.median(total),
        "streaming.add_batch_s": statistics.median(add),
        "streaming.bookkeeping_s": statistics.median(t - a for t, a in zip(total, add)),
    }
