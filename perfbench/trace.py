"""Benchmark-side instrumentation: spans around calls into the program,
a /proc peak-RSS reader, and Spark event-log parsing.

Spans are recorded by the benchmark's own code around each call into a
layer's public functions (the program itself is not instrumented), kept
in memory and read out at the end of the run. With tracing off the same
code paths run through a disabled tracer.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import threading
import time

from perfbench.metrics import self_times


class Tracer:
    """Records spans as ``(span_id, parent_id, name, start_s, end_s)``;
    the innermost open span is the parent of a new one. While a span is
    open, Spark jobs started from the bound session carry the job group
    ``<name>#<span_id>`` so event-log stages can be attributed to it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._open: list[tuple[int, str]] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    def _set_group(self) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if self._open:
            sid, name = self._open[-1]
            sc.setJobGroup(f"{name}#{sid}", name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans) + len(self._open)
        parent = self._open[-1][0] if self._open else None
        self._open.append((sid, name))
        self._set_group()
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.spans.append((sid, parent, name, start, end))
            self._set_group()

    def _named(self, name: str) -> list[tuple]:
        return sorted((sp for sp in self.spans if sp[2] == name), key=lambda sp: sp[3])

    def durations(self, name: str) -> list[float]:
        """Self time of every closed span called ``name``, in start order."""
        own = self_times(self.spans)
        return [own[sp[0]] for sp in self._named(name)]

    def groups(self, name: str) -> list[str]:
        """Job groups of the spans called ``name``, in start order."""
        return [f"{name}#{sp[0]}" for sp in self._named(name)]


#: task flag of a process that has forked but not yet called exec
PF_FORKNOEXEC = 0x40


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(command name, parent pid, task flags) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may contain spaces: fields resume after ')'
    fields = stat[stat.rfind(")") + 2:].split()
    return stat[stat.find("(") + 1:stat.rfind(")")], int(fields[1]), int(fields[6])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            kids[st[1]].append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every live descendant process of ``root_pid``."""
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _spawning_jvm_child(pid: int) -> bool:
    """True for a child of the JVM that has not exec'd yet. The JVM starts
    commands (chmod, rm, ...) by posix_spawn, whose child shares the
    JVM's memory until its exec, so its /proc counters are the JVM's."""
    st = _stat(pid)
    if st is None or not st[2] & PF_FORKNOEXEC:
        return False
    parent = _stat(st[1])
    return parent is not None and parent[0] == "java"


def _hwm_bytes(pid: int) -> int | None:
    """The kernel's high-water mark of ``pid``'s resident memory (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


class PeakRss:
    """Peak resident memory of this process's descendants (the Spark
    driver JVM and its Python workers): the sum over every descendant of
    its own peak, read from the kernel's per-process high-water mark
    (``VmHWM`` in ``/proc/<pid>/status``) so that short spikes between
    samples are not missed. ``reset`` restarts every live descendant's
    mark from its current RSS (``/proc/<pid>/clear_refs``). A background
    thread reads the marks every ``interval`` seconds, so processes that
    exit before ``peak_mb`` is read still count with their last mark.
    Children the JVM is spawning are skipped: until they exec they share
    the JVM's memory, which would count it twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._marks: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        # under the lock throughout, so no mark read before a reset
        # lands after it
        with self._lock:
            for pid in descendants(os.getpid()):
                if _spawning_jvm_child(pid):
                    continue
                hwm = _hwm_bytes(pid)
                if hwm is not None:
                    self._marks[pid] = max(self._marks.get(pid, 0), hwm)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except OSError:
                    continue
            self._marks = {}

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        self._sample()
        return sum(self._marks.values()) / 2**20


def parse_event_log(event_dir: str, app_id: str) -> dict:
    """Per job group, the stages its jobs ran with task durations and byte
    counters, from a finished application's event log::

        {group: {stage_id: {"durations": [s, ...], "input_records": n,
                            "shuffle_read_bytes": n,
                            "shuffle_write_bytes": n,
                            "output_bytes": n}}}

    Jobs without a group land under ``None``. Input is counted in records:
    with vectored parquet reads (the Spark 4 default) a task's input
    ``Bytes Read`` covers little more than the file footers."""
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"durations": [], "input_records": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "output_bytes": 0}
    )
    for path in glob.glob(os.path.join(event_dir, f"{app_id}*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    st = stages[e["Stage ID"]]
                    ti = e["Task Info"]
                    st["durations"].append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
                    tm = e.get("Task Metrics") or {}
                    st["input_records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    st["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    out: dict = collections.defaultdict(dict)
    for sid, st in stages.items():
        out[stage_group.get(sid)][sid] = st
    return dict(out)


def stages_of(log: dict, groups: list[str]) -> list[dict]:
    """All stages run under any of ``groups``."""
    return [st for g in groups for st in log.get(g, {}).values()]


def dominant_stage(stages: list[dict]) -> dict | None:
    """The stage with the largest summed task time."""
    return max(stages, key=lambda st: sum(st["durations"]), default=None)
