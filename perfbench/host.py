"""Host sizing, process-tree memory sampling and launch environment.

The sessions the benchmark starts are sized from the host through the
program's own environment overrides (``SPARK_GRAFT_CPUS``,
``S4SPARK_DRIVER_MEM``), so a run never asks for more heap than the
machine or its cgroup has.
"""

from __future__ import annotations

import os
import threading

MEM_SHARE = 0.25  # of the host/cgroup limit, for the driver heap
MEM_FLOOR_MB = 1024
MEM_CAP_MB = 8192


def _cgroup_limit_bytes() -> int | None:
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:  # v1 "unlimited" is ~2^63
            return int(raw)
    return None


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sizing() -> dict:
    """Cores from the scheduler affinity mask; driver heap a share of
    the tighter of MemTotal and the cgroup limit, floored and capped."""
    cpus = len(os.sched_getaffinity(0))
    total = mem_total_bytes()
    cg = _cgroup_limit_bytes()
    limit = min(total, cg) if cg else total
    heap_mb = int(limit / 2**20 * MEM_SHARE)
    heap_mb = max(MEM_FLOOR_MB, min(MEM_CAP_MB, heap_mb))
    return {
        "cpus": cpus,
        "mem_total_mb": total // 2**20,
        "cgroup_limit_mb": cg // 2**20 if cg else None,
        "driver_mem": f"{heap_mb}m",
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two cpu_times() readings (a slow run on a shared host shows here)."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def launch_env(root: str, work: str, size: dict) -> dict:
    """Environment for the program: host sizing, the package importable
    by Python workers, and every scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(size["cpus"]),
        S4SPARK_DRIVER_MEM=size["driver_mem"],
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _children(pid: int) -> list[int]:
    """Children forked by any thread of ``pid`` (the JVM forks the
    Python daemon from a worker thread, not its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemory:
    """Resident-memory high-water marks (VmHWM) of the processes below
    ``root_pid``, polled: the JVM's, the largest single Python worker's
    and how many workers were forked.  Summing them is avoided on
    purpose: the number of forked workers and the JVM's heap growth
    vary from run to run, so a sum has no stable value to gate on."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        stack = [self.root_pid]
        while stack:
            pid = stack.pop()
            stack.extend(_children(pid))
            kind = _kind(pid)
            kb = _hwm_kb(pid)
            if kind and kb >= self._hwm.get(pid, ("", 0))[1]:
                self._hwm[pid] = (kind, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.poll()

    def __enter__(self) -> "TreeMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.poll()

    def metrics(self) -> dict:
        def peak(kind: str) -> float:
            return max(
                (kb for k, kb in self._hwm.values() if k == kind), default=0
            ) / 1024.0

        return {
            "mem.jvm_peak_mb": peak("jvm"),
            "mem.worker_peak_mb": peak("worker"),
            "mem.workers": sum(1 for k, _ in self._hwm.values() if k == "worker"),
        }


def _kind(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return None
    if argv and argv[0].endswith(b"/java"):
        return "jvm"
    if b"pyspark.daemon" in argv:
        return "worker"
    return None
