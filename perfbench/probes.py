"""Measurement probes the benchmark wraps around the engine from outside.

* :class:`Spans` — in-memory span recorder (name, start, end, parent, run id),
  written out once at exit; reports self time per layer and how much of the
  workload's wall time the spans cover.
* :class:`RssSampler` — summed peak resident set size of this process tree
  (driver Python, JVM, Python workers), polled from ``/proc`` in a daemon
  thread.
* :func:`spark_counters` — jobs, tasks, shuffle-write and spill bytes per
  time window, read from Spark's own event log.
* :func:`pin_tree` — CPU affinity of every thread of this process tree, for
  the one-core scaling run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

class Spans:
    """Records spans in memory; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def layer_self_s(self) -> dict[str, float]:
        """Self time per layer: a span's duration minus its children's.

        The layer is the span name up to the first ``:`` (``pagerank:cold``
        belongs to ``pagerank``)."""
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for i, r in enumerate(self.records):
            out[r["name"].split(":")[0]] += (r["end"] - r["start"]) - child[i]
        return dict(out)

    def coverage(self, start: float, end: float) -> float:
        """Share of ``[start, end]`` covered by top-level spans."""
        top = sorted((r["start"], r["end"]) for r in self.records if r["parent"] is None)
        covered, cur = 0.0, start
        for s, e in top:
            s, e = max(s, cur), min(e, end)
            if e > s:
                covered += e - s
                cur = e
        return covered / (end - start) if end > start else 0.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def _hwm_and_comm(pid: int) -> tuple[int, str]:
    """Peak resident set size (``VmHWM``) of ``pid`` in bytes, and its name."""
    try:
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except OSError:
        return 0, ""
    hwm, comm = 0, ""
    for line in status.splitlines():
        if line.startswith("Name:"):
            comm = line.split(":", 1)[1].strip()
        elif line.startswith("VmHWM:"):
            hwm = int(line.split()[1]) * 1024
    return hwm, comm


def tree_peaks(root: int) -> dict[int, tuple[int, bool, str]]:
    """``pid -> (peak RSS bytes, is a Python worker, name)`` for ``root`` and
    its descendants; Python processes below the JVM are Spark's workers.
    Other processes below the JVM are left out: they are short-lived forks
    of it whose peak RSS is the JVM's own until they exec."""
    kids = _children()
    out = {}
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        hwm, comm = _hwm_and_comm(pid)
        worker = under_jvm and comm.startswith("python")
        if worker or not under_jvm:
            out[pid] = (hwm, worker, comm)
        stack.extend((c, under_jvm or comm == "java") for c in kids.get(pid, ()))
    return out


class RssSampler:
    """Peak memory of this process tree, polled every ``interval`` seconds
    until :meth:`stop`: the largest sum, at one poll, of each live process's
    peak RSS (the kernel's ``VmHWM`` high-water mark, so spikes between
    polls still count). Only the ``slots`` largest Python workers count:
    Spark runs at most one per task slot, and workers that are exiting or
    idle while their replacements start would otherwise count twice."""

    def __init__(self, slots: int, interval: float = 0.2) -> None:
        self.slots = slots
        self.interval = interval
        self.peak_total = 0
        self.peak_workers = 0
        self.at_peak: dict[int, tuple[int, bool, str]] = {}  # the tree at the peak poll
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            tree = tree_peaks(me)
            peaks = tree.values()
            workers = sum(sorted((h for h, w, _ in peaks if w), reverse=True)[: self.slots])
            self.peak_workers = max(self.peak_workers, workers)
            total = workers + sum(h for h, w, _ in peaks if not w)
            if total > self.peak_total:
                self.peak_total, self.at_peak = total, tree
            self._halt.wait(self.interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._halt.set()
        if self._thread.ident is not None:  # started
            self._thread.join(timeout=5)


def spark_counters(event_log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per named wall-clock window (epoch seconds): jobs submitted inside it,
    their tasks, shuffle bytes written and bytes spilled (memory + disk).

    Reads the uncompressed JSON-lines event log Spark writes when
    ``spark.eventLog.enabled`` is on; call after the session is stopped so
    the log is complete."""
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])  # job -> tasks, shuffle, spill
    logs = sorted(
        os.path.join(d, f) for d, _, files in os.walk(event_log_dir) for f in files
        if f.startswith(("events_", "local-"))
    )
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    job_time[job] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    t = tasks[job]
                    t[0] += 1
                    t[1] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t[2] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out = {}
    for name, (s, e) in windows.items():
        jobs = [j for j, t in job_time.items() if s <= t <= e]
        out[name] = {
            "jobs": len(jobs),
            "tasks": sum(tasks[j][0] for j in jobs),
            "shuffle_write_bytes": sum(tasks[j][1] for j in jobs),
            "spill_bytes": sum(tasks[j][2] for j in jobs),
        }
    return out


def pin_tree(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of ``root`` and its descendants
    (the JVM and Spark's Python daemon and workers). Processes forked later
    inherit it from their parent."""
    kids = _children()
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread has exited
                pass
        stack.extend(kids.get(pid, ()))


def stop_session(spark) -> None:
    """Stop ``spark`` and its JVM, and wait for the JVM to exit.

    PySpark starts the JVM with a stdin pipe and the JVM exits when that
    pipe closes; its Python workers exit with it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
