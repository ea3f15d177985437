"""Measurement probes that sit outside the program: process-tree memory,
Hadoop filesystem write counters, Spark job groups and the Spark event
log reducer."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def descendants(root: int) -> list[int]:
    """PIDs of every process below ``root`` in the process tree."""
    parent: dict[int, list[int]] = defaultdict(list)
    for d in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(d) as f:
                s = f.read()
        except OSError:
            continue
        pid = int(d.split("/")[2])
        # field 4 (ppid) follows the parenthesised command name
        parent[int(s.rsplit(")", 1)[1].split()[1])].append(pid)
    out, todo = [], [root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of every descendant of ``root``
    (the JVM and the Python workers it forks; ``root`` itself is the
    benchmark). PSS is RSS with each shared page split among the
    processes mapping it, so the copy-on-write pages that forked
    workers share with their daemon count once, not once per worker."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) * 1024 for ln in f
                              if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total


class MemSampler:
    """Background thread sampling the process-tree PSS; ``peak()``
    returns the highest sample since the last ``reset()``. Reading
    ``smaps_rollup`` walks the JVM's page tables (about 15 ms, under
    the JVM's mmap lock), so the interval is kept at 0.5 s to keep the
    probe's own load on the measured operation small."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            mem = tree_pss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, mem)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_pss_bytes(os.getpid())

    def peak(self) -> int:
        with self._lock:
            return max(self._peak, tree_pss_bytes(os.getpid()))


def fs_bytes_written(spark) -> int:
    """Bytes written through Hadoop's local filesystem by this JVM so
    far (parquet data, footers, checksums, commit markers). In local
    mode the executors run inside this one JVM, so this covers every
    sink write; shuffle and block-manager files are not Hadoop writes."""
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem
    return sum(s.getBytesWritten() for s in fs.getAllStatistics()
               if s.getScheme() == "file")


class Groups:
    """Tags every Spark job started inside ``span(name)`` with the job
    group ``name`` and records the span's wall time."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.seconds: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t0
            self.sc.setJobGroup("bench", "benchmark bookkeeping")

    def jobs(self, name: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(name))


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor CPU, GC, shuffle write, disk spill, and
    per-stage task durations and shuffle-read bytes."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "stages": defaultdict(
            lambda: {"task_s": [], "shuffle_read_bytes": 0})})
    # Spark 4 writes a rolling log: a directory of ``events_*`` files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = out[g]
                    acc["cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["gc_s"] += m["JVM GC Time"] / 1e3
                    acc["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    acc["spill_bytes"] += m["Disk Bytes Spilled"]
                    st = acc["stages"][ev["Stage ID"]]
                    info = ev["Task Info"]
                    st["task_s"].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)
                    rd = m["Shuffle Read Metrics"]
                    st["shuffle_read_bytes"] += (rd["Remote Bytes Read"]
                                                 + rd["Local Bytes Read"])
    return out


def join_task_skew(group: dict) -> float:
    """max ÷ median task time of the stage that reads the most shuffle
    bytes in a job group (the exchange-fed join stage)."""
    stages = [s for s in group["stages"].values() if s["shuffle_read_bytes"]]
    if not stages:
        return 0.0
    st = max(stages, key=lambda s: s["shuffle_read_bytes"])
    med = statistics.median(st["task_s"])
    return max(st["task_s"]) / med if med else 0.0
