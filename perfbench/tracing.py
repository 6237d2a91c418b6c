"""Measurement helpers: spans, Spark job accounting, event-log folding,
percentiles and peak RSS.

Spans are recorded only in a traced run. Each span sets a Spark job
group named after it, so every job the span's calls launch can be
attributed to it: exactly, through the status tracker, and in detail,
through the Spark event log that the traced run switches on in its
launch settings (``spark.eventLog.enabled``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

# -- statistics ---------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float, min_beyond: int = 10) -> float | None:
    """The ``p``-th percentile of ``xs`` (nearest rank), or None when
    fewer than ``min_beyond`` samples lie above it."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    if len(s) - int(rank) < min_beyond:
        return None
    return float(s[int(rank) - 1])


class OpLog:
    """Operations attempted and failed. A call that raises and an output
    that fails its check both count as failed; an operation fails once."""

    def __init__(self) -> None:
        self.oks: list[bool] = []
        self.errors: list[str] = []

    def begin(self) -> int:
        self.oks.append(True)
        return len(self.oks) - 1

    def fail(self, k: int, why: str) -> None:
        if self.oks[k]:
            self.oks[k] = False
            self.errors.append(why[:500])

    def call(self, fn, *args, **kwargs) -> tuple[int, object]:
        """Run ``fn`` as one operation; return its index and result (None
        when it raised)."""
        k = self.begin()
        try:
            return k, fn(*args, **kwargs)
        except Exception as ex:  # noqa: BLE001 - a failed operation is data here
            self.fail(k, f"{getattr(fn, '__name__', fn)}: {type(ex).__name__}: {ex}")
            return k, None

    def check(self, k: int, ok: bool, why: str) -> bool:
        """Record the output check of operation ``k``."""
        if not ok:
            self.fail(k, f"check failed: {why}")
        return ok

    def ok(self, k: int) -> bool:
        return self.oks[k]

    @property
    def attempted(self) -> int:
        return len(self.oks)

    @property
    def failed(self) -> int:
        return self.oks.count(False)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# -- peak RSS -----------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc_s(spark) -> float:
    """Collection time of every garbage collector of the driver JVM (in
    local mode the executors share it)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    """The driver JVM: the process PySpark launched for its gateway."""
    return spark.sparkContext._gateway.proc.pid


# -- spans -------------------------------------------------------------------------------


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory.

    Disabled, ``span`` is a bare ``yield``: the untraced run sets no job
    groups and keeps no records."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(self.group(sid), name)
        top = rec["parent"] is None
        gc0 = jvm_gc_s(self.spark) if top else 0.0
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            if top:
                rec["jvm_gc_s"] = jvm_gc_s(self.spark) - gc0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.group(self._stack[-1]), self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def subtree(self, sid: int) -> list[int]:
        out = [sid]
        for s in self.spans:
            if s["parent"] in out:
                out.append(s["id"])
        return out

    def job_counts(self, sid: int) -> dict:
        """Jobs, stages and tasks launched under span ``sid`` and its
        children, from the status tracker (exact counts)."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for s in self.subtree(sid):
            for jid in st.getJobIdsForGroup(self.group(s)):
                jobs += 1
                info = st.getJobInfo(jid)
                for stid in info.stageIds if info else ():
                    si = st.getStageInfo(stid)
                    if si is not None and si.numTasks and si.numCompletedTasks + si.numActiveTasks:
                        stages += 1
                        tasks += si.numCompletedTasks + si.numActiveTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def self_times(self) -> dict[int, float]:
        """A span's duration minus the part its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur_s"]
        return {s["id"]: s["dur_s"] - child[s["id"]] for s in self.spans}


# -- event log -------------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for top, _, files in sorted(os.walk(log_dir)):
        for f in sorted(files):
            with open(os.path.join(top, f), encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh)
    return events


class EventFold:
    """Spark task metrics per job group, from one event log."""

    def __init__(self, events: list[dict]) -> None:
        self.job_group: dict[int, str | None] = {}
        self.job_span: dict[int, list[float]] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict]] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                self.job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                self.job_span[jid] = [e["Submission Time"] / 1000.0, None]
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                self.job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))
        self.stage_job = stage_job

    def metrics(self, groups: set[str], intervals: list[tuple[float, float]], cores: int) -> dict:
        """Fold the tasks of ``groups``' jobs; ``intervals`` (epoch
        seconds) are the wall-clock regions for utilisation and gaps."""
        jobs = {j for j, g in self.job_group.items() if g in groups}
        run_ms = 0
        shuffle = spill = read = written = 0
        for stage, m in self.tasks:
            if self.stage_job.get(stage) not in jobs:
                continue
            run_ms += m.get("Executor Run Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        wall = max(sum(e - s for s, e in intervals), 1e-9)
        spans = [self.job_span[j] for j in jobs]
        busy = sum(_covered(spans, s, e) for s, e in intervals)
        mb = 1024.0 * 1024.0
        return {
            "task_s": run_ms / 1000.0,
            "core_util": run_ms / 1000.0 / (wall * cores),
            "shuffle_write_mb": shuffle / mb,
            "spill_mb": spill / mb,
            "input_mb": read / mb,
            "output_mb": written / mb,
            "driver_gap_s": wall - busy,
        }


def _covered(intervals: list[list[float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e if e is not None else end, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
