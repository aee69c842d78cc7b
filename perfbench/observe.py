"""Measurements taken from outside the program: worker memory from
``/proc`` and per-stage task metrics from Spark's JSON event log."""

from __future__ import annotations

import json
import os
import statistics
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def child_pids(pid: int) -> list[int]:
    """The processes whose parent is ``pid``, zombies included."""
    return _children().get(pid, [])


_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _cpu_ticks(stat_path: str) -> tuple[bytes, list[int]]:
    with open(stat_path, "rb") as f:
        stat = f.read()
    fields = stat[stat.rindex(b")") + 2:].split()
    # utime stime cutime cstime, the 14th to 17th fields
    return stat[stat.index(b"(") + 1:stat.rindex(b")")], [int(x) for x in fields[11:15]]


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every process
    below it, including exited children their parents have reaped, but
    not the JVM's JIT compiler threads: compiling is warm-up work that
    lands in whichever pass it happens to overlap.  Time the hypervisor
    steals from the VM is not in it either, but a core shared with busy
    neighbours still makes the same work cost more CPU seconds."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += sum(_cpu_ticks(f"/proc/{pid}/stat")[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, ticks = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
                if name in _JIT_THREADS:
                    total -= ticks[0] + ticks[1]
        except OSError:
            continue  # the process ended between the scan and the read
    return total / _TICK


def worker_rss_bytes(root: int) -> int:
    """Summed resident size of the PySpark Python worker processes
    (the daemon and the workers it forks) below process ``root``."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # the process ended between the scan and the read
    return total


class RssSampler:
    """Samples :func:`worker_rss_bytes` in a thread; ``stop`` returns the
    largest sum seen since ``start``, in MiB."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak, self._stop = interval, 0, threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, worker_rss_bytes(root))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def _reference_work(n: int) -> int:
    # integer arithmetic, string and dict operations of the interpreter
    acc: dict[str, int] = {}
    for i in range(n):
        k = str(i * 2654435761 % 997)
        acc[k] = acc.get(k, 0) + i
    return len(acc)


REFERENCE_N = 2_000_000


def reference_cpu_s(procs: int) -> float:
    """Mean CPU seconds that each of ``procs`` forked copies of this
    process, run at once, spends on a fixed piece of the benchmark's own
    interpreter work (no program code): how fast the host's cores are
    right now."""
    pids = []
    for _ in range(procs):
        pid = os.fork()
        if pid == 0:
            try:
                _reference_work(REFERENCE_N)
            finally:
                os._exit(0)
        pids.append(pid)
    total = 0.0
    for pid in pids:
        usage = os.wait4(pid, 0)[2]
        total += usage.ru_utime + usage.ru_stime
    return total / procs


PASS_PROPERTY = "perfbench.pass"


def stage_metrics(event_log: str, passes: list[str]) -> dict[str, float]:
    """Median over ``passes`` of per-pass stage metrics.

    Jobs are matched to a pass by the ``perfbench.pass`` local property
    the benchmark sets before each pass."""
    stage_pass, tasks = {}, {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                pid = (ev.get("Properties") or {}).get(PASS_PROPERTY)
                if pid in passes:
                    for sid in ev["Stage IDs"]:
                        stage_pass[sid] = pid
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append((
                    info["Finish Time"] - info["Launch Time"],
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    per_pass = {p: {"tasks": 0, "skew": 1.0, "single": 0, "shuffle": 0, "spill": 0} for p in passes}
    for sid, pid in stage_pass.items():
        ts = tasks.get(sid)
        if not ts:
            continue  # skipped stage (its shuffle output was reused)
        acc = per_pass[pid]
        durations = [t[0] for t in ts]
        acc["tasks"] += len(ts)
        acc["single"] += len(ts) == 1
        if len(ts) > 1:
            acc["skew"] = max(acc["skew"], max(durations) / max(statistics.median(durations), 1))
        acc["shuffle"] += sum(t[1] for t in ts)
        acc["spill"] += sum(t[2] for t in ts)

    def med(key, scale=1.0):
        return statistics.median(per_pass[p][key] for p in passes) / scale

    return {
        "spark.tasks": med("tasks"),
        "spark.max_over_median_task": med("skew"),
        "spark.single_task_stages": med("single"),
        "spark.shuffle_write_mb": med("shuffle", 2**20),
        "spark.spill_mb": med("spill", 2**20),
    }
