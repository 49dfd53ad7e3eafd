"""CPU accounting for the benchmark's process tree, and host context, from /proc.

``ProcTree`` sums utime+stime over the tree rooted at this process and
splits it four ways:

- ``driver_py``: this Python process;
- ``jvm``: the Spark JVM and anything else under this process that is
  not a Python worker, without the JIT compiler threads;
- ``jit``: the JVM's JIT compiler threads (``C1 CompilerThread``,
  ``C2 CompilerThread``).  The benchmark starts the JVM with
  ``-XX:-UseDynamicNumberOfCompilerThreads``, so these threads live as
  long as the JVM and their CPU is never folded into an exited thread's;
- ``py_workers``: Python processes below the JVM (``pyspark.daemon`` and
  the workers it forks).

Children that have exited are still counted through their parent's
cutime/cstime, so a worker that lives for one task is not lost.  Time
stolen by the hypervisor is not CPU time of any process and so is in
none of the four; but the same work costs more CPU time on a busy host
(headline: 1.70 s per operation at 0.7 % steal, 2.08 s at 14 %).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own ticks, reaped-children ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5): ppid is 4, utime..cstime 14..17
    return comm, int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _jit_threads(pid: int) -> list[str]:
    """/proc paths of the JIT compiler threads of a JVM."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out.append(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            pass
    return out


def _ticks(path: str) -> int:
    try:
        with open(path, "rb") as f:
            fields = f.read().decode().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


class ProcTree:
    """Per-bucket CPU seconds of this process and its descendants."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.members: dict[int, str] = {self.root: "driver_py"}
        self.jit: list[str] = []

    def refresh(self) -> None:
        """Rediscover the descendants (one pass over /proc)."""
        children: dict[int, list[tuple[int, str]]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(st[1], []).append((int(name), st[0]))
        members = {self.root: "driver_py"}
        jvms = []
        stack = [(self.root, False)]
        while stack:
            pid, under_jvm = stack.pop()
            for child, comm in children.get(pid, ()):
                is_jvm = under_jvm or comm == "java"
                members[child] = "py_workers" if under_jvm and comm.startswith("python") else "jvm"
                stack.append((child, is_jvm))
                if comm == "java":
                    jvms.append(child)
        self.members = members
        if not self.jit:  # the compiler threads start with the JVM
            self.jit = [t for pid in jvms for t in _jit_threads(pid)]

    def sample(self) -> dict[str, float]:
        """CPU seconds used so far, per bucket (the driver's own reaped
        children are left out: the JVM is only reaped at shutdown)."""
        out = {"driver_py": 0.0, "jvm": 0.0, "jit": 0.0, "py_workers": 0.0}
        for pid, bucket in self.members.items():
            st = _stat(pid)
            if st is None:
                continue
            ticks = st[2] if pid == self.root else st[2] + st[3]
            out[bucket] += ticks / CLK_TCK
        jit = sum(_ticks(t) for t in self.jit) / CLK_TCK
        out["jit"] += jit
        out["jvm"] -= jit
        return out


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(a: list[int], b: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two reads."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])  # guest time is already inside user/nice
    return 100.0 * d[7] / total if total else 0.0
