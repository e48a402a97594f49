"""Measurement helpers that sit outside the package.

- :class:`ProcessTree` reads peak RSS and bytes written for this process
  and every descendant (the JVM and its Python workers) from ``/proc``.
  A process that exits between two samples takes its last bytes written
  with it; the JVM, which writes shuffle, spill and outputs, and the
  reused Python workers live through a run.
- :class:`Spans` wraps named public functions of the package, in every
  module that imported them, and accumulates their outermost wall time
  and call count.
- :func:`group_counts` reads job, stage and task counts for one job group
  from Spark's status tracker.
- :func:`parse_event_log` folds a zstd Spark event log into per-job-group
  task metrics and job intervals.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from collections import Counter, defaultdict


class ProcessTree:
    """This process and its descendants, as listed in ``/proc``.

    :meth:`sample` returns the bytes the tree has written to files
    (``write_bytes``, counted when a page is dirtied) and keeps each
    process's peak RSS (``VmHWM``, tracked by the kernel), so the tree's
    peak survives processes that exit between samples.

    ``cancelled_write_bytes`` is not subtracted: it counts dirty pages of
    files deleted before write-back, mostly shuffle files, so it follows
    when the JVM's cleaner deletes them and the kernel's write-back timer,
    not the work done. Subtracted, an ETL run's ``write_amp`` read 4.6,
    2.7 and 2.8 on three seeds; as is, it spread 0.6% over ten."""

    def __init__(self):
        self.root = os.getpid()
        self.hwm: dict[int, int] = {}

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after ")"
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children[ppid].append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> int:
        written = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/io") as f:
                    for line in f:
                        if line.startswith("write_bytes:"):
                            written += int(line.split()[1])
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm[pid] = max(self.hwm.get(pid, 0), kb << 10)
            except OSError:
                pass
        return written

    def reset_peak(self) -> None:
        """Restart every process's peak RSS from its current RSS."""
        self.hwm.clear()
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_bytes(self) -> int:
        """Sum of every process's peak RSS seen by :meth:`sample`."""
        return sum(self.hwm.values())


class Spans:
    """Outermost wall time and call count per wrapped function label."""

    def __init__(self):
        self.seconds: Counter = Counter()
        self.calls: Counter = Counter()
        self._depth: Counter = Counter()

    def _wrap(self, label: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            outer = self._depth[label] == 0
            self._depth[label] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[label] -= 1
                if outer:
                    self.seconds[label] += time.perf_counter() - t0
                    self.calls[label] += 1

        return timed

    def install(self, package: str, targets: dict[str, tuple[str, str]]) -> None:
        """Replace each ``targets[label] = (module, attr)`` function with a
        timed wrapper, in its defining module and in every loaded module of
        ``package`` that bound the same object by ``from ... import``."""
        for label, (modname, attr) in targets.items():
            orig = getattr(importlib.import_module(modname), attr)
            timed = self._wrap(label, orig)
            for name, mod in list(sys.modules.items()):
                if mod is None or not name.startswith(package):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, timed)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, and their tasks for one job group, from the
    status tracker (skipped stages have no completed tasks)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in stages:
                continue
            sinfo = st.getStageInfo(sid)
            if sinfo and sinfo.numCompletedTasks:
                stages.add(sid)
                tasks += sinfo.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def _task_row(metrics: dict) -> dict[str, int]:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    return {
        "run_ms": metrics.get("Executor Run Time", 0),
        "cpu_ns": metrics.get("Executor CPU Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": metrics.get("Output Metrics", {}).get("Bytes Written", 0),
        "tasks": 1,
    }


_KEEP = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerJobEnd"',
    b'"SparkListenerTaskEnd"',
)


def parse_event_log(path: str) -> dict:
    """Fold a zstd-compressed Spark event log.

    Returns ``{"groups": {group: Counter}, "jobs": [...]}``: per job
    group, the task fields of :func:`_task_row` summed; per job, ``id``,
    ``group``, ``start_ms`` and ``end_ms``. Tasks are attributed to the
    group of the first job that listed their stage; jobs without a group
    are reported under ``""``.
    """
    import pyarrow as pa

    with pa.input_stream(path, compression="zstd") as f:
        raw = f.read()
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    for line in raw.splitlines():
        if not line.startswith(b'{"Event":') or not any(k in line[:40] for k in _KEEP):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "group": group,
                "start_ms": ev["Submission Time"],
                "end_ms": None,
            }
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        else:
            group = stage_group.get(ev["Stage ID"], "")
            groups[group].update(_task_row(ev.get("Task Metrics") or {}))
    return {"groups": dict(groups), "jobs": list(jobs.values())}


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
