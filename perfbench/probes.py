"""Counters read from the benchmark side: process-tree CPU and memory
from ``/proc``, host steal and load as run context, and Spark's own
job/stage/task counters through the session's JVM gateway."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return comm, int(rest[1]), ticks / _TICK


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process's tree, split into the Python driver,
    the JVM and the Python workers the JVM started. Each live process
    counts its own time plus that of the children it has reaped, so
    workers that already exited are still counted."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    me = os.getpid()
    out = {"driver": procs.get(me, ("", 0, 0.0))[2], "jvm": 0.0,
           "pyworker": 0.0}

    def walk(pid: int, bucket: str) -> None:
        for c in kids.get(pid, []):
            comm, _, cpu = procs[c]
            b = "jvm" if comm == "java" else ("pyworker" if bucket == "jvm"
                                              or bucket == "pyworker"
                                              else "driver")
            out[b] += cpu
            walk(c, b)

    walk(me, "driver")
    out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
    return out


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def host_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(a: list[int], b: list[int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    ``host_ticks`` readings. This guest charges stolen time to whichever
    process was running, so process CPU seconds times (1 - this share)
    is the CPU the process really got."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / (sum(d[:8]) or 1)


class HostContext:
    """Host steal share and load average over a run — printed beside
    the metrics, never reported as one."""

    def __init__(self) -> None:
        self.t0 = host_ticks()

    def summary(self) -> dict:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {"steal_pct": round(100.0 * steal_share(self.t0, host_ticks()), 2),
                "loadavg": load, "cpus": os.cpu_count()}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class SparkCounters:
    """Job and stage ids are handed out in sequence by the scheduler, so
    the ids created between two marks are exactly the work launched in
    between — including streaming micro-batches, which run on their own
    threads outside any job group the caller sets."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.dag = jsc.dagScheduler()
        self.store = jsc.statusStore()
        self._empty_list = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        return int(self.dag.nextJobId()), int(self.dag.nextStageId())

    def between(self, a: tuple[int, int], b: tuple[int, int],
                timed: bool = False) -> dict:
        """Jobs, stages, tasks and shuffle bytes of the
        stages created between marks ``a`` and ``b``; with ``timed``,
        also ``job_s``, the wall time during which at least one of those
        jobs was running (jobs may overlap, e.g. broadcast builds)."""
        out = {"jobs": b[0] - a[0], "stages": 0, "tasks": 0,
               "shuffle_write_mb": 0.0, "job_s": 0.0}
        spans = []
        for jid in range(a[0], b[0]) if timed else ():
            jd = self.store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
        reach = None
        for s, e in sorted(spans):
            if reach is None or s > reach:
                out["job_s"] += (e - s) / 1e3
                reach = e
            elif e > reach:
                out["job_s"] += (e - reach) / 1e3
                reach = e
        for sid in range(a[1], b[1]):
            seq = self.store.stageData(sid, False, self._empty_list, False,
                                       self._no_quantiles)
            for i in range(seq.size()):
                st = seq.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        return out

    def settle(self, timeout: float = 2.0) -> None:
        """Wait until the listener bus has recorded every stage created
        so far (stage metrics arrive asynchronously)."""
        deadline = time.time() + timeout
        last = int(self.dag.nextStageId()) - 1
        while last >= 0 and time.time() < deadline:
            seq = self.store.stageData(last, False, self._empty_list, False,
                                       self._no_quantiles)
            if seq.size() and seq.apply(0).status().toString() != "ACTIVE":
                return
            time.sleep(0.02)
