"""Measurement from outside the engine: /proc samples of the process
tree, spans around calls into the engine's public functions, and
Spark's own task metrics from the event log, attributed to spans by
job group.

Process tree: this Python process (the Spark driver's client), the
driver JVM it launched, and the JVM's Python worker daemon and workers.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; it sits between the first '(' and last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, own, reaped


def _vm_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (the steal column of /proc/stat), summed over CPUs. A
    run's wall times rise with it while its CPU times do not."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


class ProcessTree:
    """Snapshots of CPU and memory for this process and its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_rss_kb = 0
        self.peak_rss_kb_by_role: dict[str, int] = {}

    def _members(self) -> dict[int, tuple[int, str, float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        keep = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, st in stats.items():
                if pid not in keep and st[0] in keep:
                    keep.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in keep if pid in stats}

    def snapshot(self) -> dict:
        """CPU seconds by role: 'driver' (this process), 'jvm', 'python'
        (the JVM's Python workers, reaped ones included), plus the tree
        total; also updates the sampled peak of the tree's summed RSS."""
        members = self._members()
        snap = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
        rss = {"driver": 0, "jvm": 0, "python": 0}
        for pid, (_ppid, comm, own, reaped) in members.items():
            role = "driver" if pid == self.root else "jvm" if comm == "java" else "python"
            rss[role] += _vm_kb(pid, "VmRSS:")
            snap[role] += own
            # the JVM's reaped children are Python worker daemons
            snap["python"] += reaped if role != "driver" else 0.0
        snap["total"] = snap["driver"] + snap["jvm"] + snap["python"]
        self.peak_rss_kb = max(self.peak_rss_kb, sum(rss.values()))
        for role, kb in rss.items():
            self.peak_rss_kb_by_role[role] = max(self.peak_rss_kb_by_role.get(role, 0), kb)
        return snap

    def jvm_pid(self) -> int | None:
        for pid, st in self._members().items():
            if st[1] == "java":
                return pid
        return None

    def jvm_hwm_kb(self) -> int:
        pid = self.jvm_pid()
        return _vm_kb(pid, "VmHWM:") if pid else 0

    def peak_rss_mb(self) -> float:
        """Largest sampled tree RSS, floored at the JVM's own high-water
        mark (the JVM may peak between samples)."""
        return max(self.peak_rss_kb, self.jvm_hwm_kb()) / 1024.0


@contextmanager
def timed_calls(module, name: str, tree: ProcessTree):
    """Wrap ``module.name`` for the duration of the block so each call
    records its wall and process-tree CPU seconds; yields the list of
    ``{"wall_s", "cpu_s"}`` records. For a callee looked up at call
    time, such as the per-microbatch function a streaming query's
    foreachBatch handler calls."""
    real = getattr(module, name)
    calls: list[dict] = []

    def wrapper(*args, **kwargs):
        c0 = tree.snapshot()["total"]
        t0 = time.monotonic()
        try:
            return real(*args, **kwargs)
        finally:
            calls.append({
                "wall_s": time.monotonic() - t0,
                "cpu_s": tree.snapshot()["total"] - c0,
            })

    setattr(module, name, wrapper)
    try:
        yield calls
    finally:
        setattr(module, name, real)


class Tracer:
    """Spans (name, start, end, parent, run id) around calls into the
    engine. Each span sets a Spark job group so task metrics from the
    event log can be attributed to it, and records /proc CPU deltas.
    Spans stay in memory and are written once, by :meth:`dump`."""

    def __init__(self, tree: ProcessTree, run_id: str, spark=None):
        self.tree = tree
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{sid}:{name}",
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        before = self.tree.snapshot()
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            after = self.tree.snapshot()
            rec["cpu"] = {k: after[k] - before[k] for k in after}
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def by_name(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp, default=str) + "\n")


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to a zstd-compressed rolling directory; a flat
    # JSON-lines file is what task_metrics_by_group reads.
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def task_metrics_by_group(event_log: str) -> dict[str, dict]:
    """Sum each job group's task metrics from a Spark event log:
    executor run and CPU seconds, GC seconds, shuffle write MB, spill MB
    (memory + disk), and task count. Stages shared by several jobs are
    counted once, under the first job that listed them."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for st in ev.get("Stage IDs", []):
                    stage_group.setdefault(st, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if group is None or not m:
                    continue
                acc = out.setdefault(
                    group,
                    {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                     "shuffle_write_mb": 0.0, "spill_mb": 0.0},
                )
                sw = m.get("Shuffle Write Metrics") or {}
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
