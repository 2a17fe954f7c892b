"""Measurement helpers that observe the program from outside: spans around
layer calls, Spark's local event log, and /proc readings of the process
tree (CPU time, memory), plus ending that tree when a run is over."""

from __future__ import annotations

import ctypes
import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans around public layer calls, all sharing one ``pass_id``.  Each
    span runs its Spark jobs under its own job group (``<pass_id>/<name>``),
    so the event log can be summed per layer afterwards.  Spans stay in
    memory until :meth:`dump`."""

    def __init__(self, spark, pass_id: str):
        self.sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: list[dict] = []

    def group(self, name: str) -> str:
        return f"{self.pass_id}/{name}"

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "pass": self.pass_id, "group": self.group(name)}
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setJobGroup("", "")
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        rec = next(s for s in self.spans if s["name"] == name)
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0}


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Sum task metrics and job/stage/task counts per job group from every
    event log file in ``log_dir`` (read after ``spark.stop()`` flushed it)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_zero)
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app>, an empty
    # appstatus_<app> marker and hidden .crc checksum files
    paths = sorted(os.path.join(d, fn) for d, _dirs, files in os.walk(log_dir)
                   for fn in files if fn.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                    out[g]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    out[stage_group.get(ev["Stage Info"]["Stage ID"], "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    acc = out[stage_group.get(ev["Stage ID"], "")]
                    acc["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


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
        # field 4 (ppid) follows the parenthesised command name
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    return kids


def descendants(root: int) -> set[int]:
    """Every process below ``root`` (not ``root`` itself): here the Spark
    JVM, the python worker daemon and its forked workers."""
    kids = _children()
    found, todo = set(), list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        found.add(pid)
        todo.extend(kids.get(pid, ()))
    return found


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie (ended, not yet reaped) is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so a python worker whose JVM has exited stays
    in this process's tree, where :func:`end_processes` finds and reaps it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # no prctl: orphans go to init, and are still waited for


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(pids: set[int]) -> None:
    """Wait until every process in ``pids``, and every process below this
    one, has ended and been reaped; terminate, then kill, what still runs
    after a grace period."""
    me = os.getpid()
    for sig, grace_s in ((None, 30.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            pids = {p for p in pids | descendants(me) if alive(p)}
            if not pids or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            return


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and every process below it,
    ended ones included once their parent has reaped them.  The kernel
    leaves out time the hypervisor gave to other guests, so on a shared
    host this moves far less than wall time does."""
    ticks = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between listing and reading
        # utime, stime, cutime, cstime (fields 14-17; the list starts at 3)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def descendants_pss_bytes(root: int) -> int:
    """Proportional resident bytes of every descendant of ``root``.  PSS
    splits pages the worker forks share with the daemon, which a sum of RSS
    would count once per worker."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass  # the process ended between listing and reading
    return total


class PeakRss:
    """Background sampler of :func:`descendants_pss_bytes` (psutil is not
    available); ``peak_mb`` holds the highest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, descendants_pss_bytes(me) / 2**20)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
