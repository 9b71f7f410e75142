"""CPU time and memory high-water marks of the engine's process tree.

The tree is the driver JVM plus its descendants (the pyspark daemon and
its Python workers). A process that has been reaped moves its CPU time
into its parent's ``cutime``/``cstime``, so summing
``utime + stime + cutime + cstime`` over the live tree counts every
CPU-second once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    # stat fields 14-17 (utime stime cutime cstime), offset by the 3
    # fields (pid, comm, state) stripped above
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


class CpuMeter:
    """Cumulative CPU-seconds of the JVM, its JIT compiler threads, its
    Python workers and this process.

    JIT CPU is kept apart because it is warm-up cost that a steady-state
    op does not pay, and it varies from run to run. Compiler threads come
    and go (HotSpot sizes the pool to its queue), while the process's
    own counters keep a dead thread's CPU. So each compiler thread keeps
    the last CPU seen for it; what a thread spends after its last sample
    counts as JVM time.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._jit_seen: dict[str, float] = {}

    def _jit_s(self) -> float:
        task = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"{task}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if "CompilerThre" in raw[:raw.rindex(")")]:
                st = raw[raw.rindex(")") + 2:].split()
                self._jit_seen[tid] = (int(st[11]) + int(st[12])) / _TICK
        return sum(self._jit_seen.values())

    def sample(self) -> dict[str, float]:
        me = os.times()
        jvm_st = _stat(self.jvm_pid)
        reaped = 0.0
        if jvm_st is not None:
            reaped = (int(jvm_st[13]) + int(jvm_st[14])) / _TICK
        jit = self._jit_s()
        return {
            "jvm": _cpu_s(self.jvm_pid, with_children=False) - jit,
            "jit": jit,
            "py_workers": reaped + sum(_cpu_s(p, with_children=True)
                                       for p in descendants(self.jvm_pid)),
            "py_driver": me.user + me.system,
        }


def hwm_mb(pid: int) -> float:
    """Kernel RSS high-water mark (``VmHWM``) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def mem_split(jvm_pid: int) -> dict[str, float]:
    return {
        "jvm": hwm_mb(jvm_pid),
        "py_driver": hwm_mb(os.getpid()),
        "py_workers": sum(hwm_mb(p) for p in descendants(jvm_pid)),
    }


def host_sample() -> dict[str, float]:
    """Cumulative steal and total jiffies, for the run's steal share."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu)}
