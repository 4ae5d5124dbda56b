"""Spans around the benchmark's calls into the engine, and the counters
read at the same boundaries.

A span is (name, start, end, parent, run id). Spans are always recorded:
they are two clock reads, and they are how the benchmark times every call.
The counters are not free (each is one or more py4j round-trips), so they
are read only when tracing is on: a job group per call, the executed
plan's SQL metrics, the status tracker, the block manager's storage list
and ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from gravity_books_datalakehouse_spark.metrics import (
    _walk,
    job_group_profile,
    task_time_profile,
)

#: SQL metrics summed over each executed plan.
PLAN_METRICS = ("shuffleBytesWritten", "spillSize", "numFiles")
#: An AQE shuffle read coalesced to one partition counts as collapsed when
#: it reads at least this many bytes: below it one task is the right plan.
COLLAPSED_READ_BYTES = 1 << 20


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


class Tracer:
    """Records spans for one benchmark run; counters only when ``enabled``."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sums: dict[str, float] = {}   # per-round totals, summed over rounds
        self.peaks: dict[str, float] = {}  # highest reading in the run
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0) + value

    def peak(self, key: str, value: float) -> None:
        self.peaks[key] = max(self.peaks.get(key, value), value)

    @contextmanager
    def job_group(self, name: str):
        """Run the enclosed actions under their own job group (traced only)."""
        if not self.enabled:
            yield None
            return
        group = f"{self.run_id}:{len(self.spans)}:{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        try:
            yield group
        finally:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")

    def record_group(self, group: str | None) -> None:
        """Read the scheduler counters of one job group (traced only)."""
        if not self.enabled or group is None:
            return
        with self.span("trace.instrument"):
            self._record_group(group)

    def _record_group(self, group: str) -> None:
        prof = job_group_profile(self.spark, group)
        self.add("exec.stages", prof["stages"])
        self.add("exec.tasks", prof["tasks"])
        skew = task_time_profile(self.spark, group)
        self.peak("exec.straggler_ratio", skew.get("straggler_ratio", 1.0))
        self.record_memos()

    def record_query(self, df, group: str | None) -> None:
        """Read the plan and scheduler counters of one executed query
        (traced only)."""
        if not self.enabled or group is None:
            return
        with self.span("trace.instrument"):
            totals = dict.fromkeys(PLAN_METRICS, 0)
            collapsed = 0

            def visit(node):
                nonlocal collapsed
                metrics = {}
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    metrics[kv._1()] = kv._2().value()
                for k in totals:
                    totals[k] += metrics.get(k, 0)
                if (node.getClass().getSimpleName() == "AQEShuffleReadExec"
                        and metrics.get("numPartitions") == 1
                        and metrics.get("partitionDataSize", 0) >= COLLAPSED_READ_BYTES):
                    collapsed += 1

            qe = df._jdf.queryExecution()
            _walk(qe.executedPlan(), visit)
            it = qe.tracker().phases().iterator()
            plan_ms = 0
            while it.hasNext():
                kv = it.next()
                if kv._1() in ("analysis", "optimization", "planning"):
                    plan_ms += kv._2().durationMs()
            self.add("catalyst.plan_ms", plan_ms)
            self.add("exec.shuffle_bytes", totals["shuffleBytesWritten"])
            self.add("exec.spill_bytes", totals["spillSize"])
            self.add("exec.aqe_collapsed_reads", collapsed)
            self.add("sources.scan_files", totals["numFiles"])
            self._record_group(group)

    def record_lake(self, lake: str, inputs: str) -> None:
        """Data files and bytes each medallion layer wrote, the most files
        any gold fact partition holds, and lake bytes per input byte."""
        lake_bytes = 0
        for layer in ("bronze", "silver", "gold"):
            files = size = 0
            for d, _, names in os.walk(os.path.join(lake, layer)):
                data = [n for n in names if n.startswith("part-")]
                files += len(data)
                size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
                if layer == "gold" and os.path.basename(d).startswith("month_sk="):
                    self.peak("sources.gold_fact_files_per_partition_max", len(data))
            self.add(f"sources.files.{layer}", files)
            self.add(f"sources.bytes_written.{layer}", size)
            lake_bytes += size
        source = sum(os.path.getsize(os.path.join(inputs, n))
                     for n in os.listdir(inputs) if n.endswith(".parquet"))
        self.add("sources.lake_bytes_per_source_byte", lake_bytes / source)

    def record_memos(self) -> None:
        """Bytes and RDDs the engine's memos hold persisted right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        size = rdds = 0
        for info in infos:
            if info.numCachedPartitions() > 0:
                rdds += 1
                size += info.memSize() + info.diskSize()
        self.peak("memo.persisted_bytes", size)
        self.peak("memo.persisted_rdds", rdds)

    def record_rss(self, jvm_pid: int) -> None:
        """Peak resident memory of the JVM, this process and the Python
        workers, from ``/proc`` (VmHWM is the kernel's high-water mark)."""
        if not self.enabled:
            return
        pids = [os.getpid(), jvm_pid] + descendants(jvm_pid)
        total_kb = sum(_status_kb(p, "VmHWM") for p in pids)
        self.peak("process.peak_rss_mb", total_kb / 1024)

    @contextmanager
    def python_cpu(self, jvm_pid: int):
        """Add the CPU seconds the JVM's Python workers spend in the enclosed
        block to ``operators.python_s`` (traced only). Read from ``/proc``,
        so it counts every Arrow/Pandas UDF, memo builds included."""
        if not self.enabled:
            yield
            return
        before = python_cpu_s(jvm_pid)
        yield
        self.add("operators.python_s", python_cpu_s(jvm_pid) - before)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, and the counters."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "sums": self.sums, "peaks": self.peaks,
                       "spans": [{**s, "self": selfs[s["id"]]} for s in self.spans]},
                      f, indent=1)


def descendants(pid: int) -> list[int]:
    """Every descendant of ``pid`` (Python daemon and its forked workers)."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent_of[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # the process ended while we looked
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def python_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's Python workers: each live
    worker's own time, plus the time of exited workers that the daemon,
    their parent, has reaped (its cutime/cstime)."""
    ticks = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the worker ended while we looked
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended while we looked
    return 0
