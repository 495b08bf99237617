"""Shared pieces of the benchmark: the run context, timing helpers, memory
readings and the event-log fold that turns Spark's own task metrics into
per-layer numbers.

Everything here observes the program from outside: it times calls into the
public functions of ``starchart_spark`` and reads what Spark already logs.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field


class CheckFailed(Exception):
    """An output of the program differs from its independent recount."""


@dataclass
class Ctx:
    """State of one benchmark run, created by ``run.py`` and passed to the
    workload functions."""

    spark: object
    work: str  # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    smoke: bool
    trace: bool
    failures: list = field(default_factory=list)
    attempted: int = 0
    notes: dict = field(default_factory=dict)  # annotations, not metrics

    def fail(self, op: str, exc: BaseException) -> None:
        """Record one failed operation with its exception type (loudly)."""
        self.failures.append({"op": op, "type": type(exc).__name__, "msg": str(exc)[:300]})
        print(f"perfbench: {op} failed: {type(exc).__name__}: {exc}", file=sys.stderr)

    def checked(self, op: str, check) -> None:
        """Count one attempted operation; a raising check counts as failed."""
        self.attempted += 1
        try:
            check()
        except Exception as exc:  # any failure of the check is a failed op
            self.fail(op, exc)

    @contextlib.contextmanager
    def group(self, name: str):
        """Attribute every Spark job started inside the block to ``name``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setJobGroup("perfbench", "perfbench")


def median(xs) -> float:
    return float(statistics.median(xs))


def now() -> float:
    return time.perf_counter()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's ``.crc`` side files included."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # a staging file renamed under us
                continue
            n_files += 1
    return n_bytes, n_files


# -- memory -------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # process ended between listing and reading
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            out = [int(p) for p in fh.read().split()]
    except OSError:
        return []
    for c in list(out):
        out.extend(_children(c))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus every Python
    worker process still alive under it, in MiB. Worker reuse is on, so the
    daemon and its workers live until the session stops."""
    jvm = spark.sparkContext._gateway.proc.pid
    pids = [jvm] + _children(jvm)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


# -- event log -----------------------------------------------------------------

TRACE_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class EventLogSwitch:
    """Detach and re-attach Spark's event-log listener, so one traced
    process can time the same step with and without the log being written
    (the tracing overhead)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._listener = self._sc.eventLogger().get()
        self.attached = True

    def set(self, attached: bool) -> None:
        if attached == self.attached:
            return
        self._sc.listenerBus().waitUntilEmpty()
        if attached:
            self._sc.listenerBus().addToEventLogQueue(self._listener)
        else:
            self._sc.removeSparkListener(self._listener)
        self.attached = attached


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    python_run_s: float = 0.0
    python_bytes_sent: int = 0
    job_spans: list = field(default_factory=list)  # (start_s, end_s) epoch
    stage_task_s: dict = field(default_factory=dict)  # stage -> [task run s]

    def task_s_max_over_p50(self) -> float:
        """Straggler ratio of the group's heaviest stage: slowest task run
        time over the median task run time."""
        if not self.stage_task_s:
            return 0.0
        heavy = max(self.stage_task_s.values(), key=sum)
        p50 = statistics.median(heavy)
        return max(heavy) / p50 if p50 > 0 else 0.0


def fold_event_log(path: str) -> dict[str, GroupStats]:
    """Fold a finished (uncompressed) event log into per-job-group totals."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                st = groups.setdefault(g, GroupStats())
                st.jobs += 1
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(e["Job ID"])
                if g is not None:
                    groups[g].job_spans.append(
                        (job_start[e["Job ID"]], e["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(e["Stage Info"]["Stage ID"])
                if g is not None:
                    groups[g].stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                if g is None:
                    continue
                st = groups[g]
                m = e.get("Task Metrics") or {}
                st.tasks += 1
                run_s = m.get("Executor Run Time", 0) / 1000.0
                st.run_s += run_s
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.spill_b += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.stage_task_s.setdefault(e["Stage ID"], []).append(run_s)
                for a in e["Task Info"].get("Accumulables", []):
                    name = a.get("Name")
                    if name == "time to run Python workers":
                        st.python_run_s += int(a.get("Update", 0)) / 1000.0
                    elif name == "data sent to Python workers":
                        st.python_bytes_sent += int(a.get("Update", 0))
    return groups


def busy_s(spans: list, start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one job span."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in spans if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
