"""Memory of the benchmark's process tree, read from /proc."""
from __future__ import annotations

import os
import time


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names cut to 15 chars


def _stat(path: str) -> tuple[str, list[int]]:
    """(command name, clock ticks utime stime cutime cstime) of a
    /proc/<pid>/stat or /proc/<pid>/task/<tid>/stat file."""
    with open(path) as f:
        text = f.read()
    fields = text[text.rindex(")") + 2:].split()
    return text[text.index("(") + 1:text.rindex(")")], [int(x) for x in fields[11:15]]


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds used so far by this process and every process under it,
    counting reaped children once; the part of it spent in the JVM's JIT
    compiler threads). Time the host steals from the VM is in neither."""
    total = jit = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            name, ticks = _stat(f"/proc/{pid}/stat")
            total += sum(ticks)
            if name == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    tname, tticks = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if tname.startswith(JIT_THREADS):
                        jit += tticks[0] + tticks[1]
        except OSError:
            continue
    return total / TICK, jit / TICK


def cpu_s() -> float:
    """CPU seconds of the process tree outside JIT compilation: the JIT
    compiles in the background for minutes after start-up, at a rate that
    differs from run to run, and it is warm-up, not the measured work."""
    total, jit = tree_cpu()
    return total - jit


def snapshot(spark) -> dict:
    """RSS of the driver, the JVM and the Python workers the JVM forked,
    and the JVM heap still in use after a full GC."""
    jvm = spark.sparkContext._jvm
    pid = jvm_pid(spark)
    workers = descendants(pid)
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    snap = {
        "driver_mb": rss_mb(os.getpid()),
        "jvm_mb": rss_mb(pid),
        "workers_mb": sum(rss_mb(p) for p in workers),
        "workers": len(workers),
        "jvm_retained_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }
    snap["rss_mb"] = snap["driver_mb"] + snap["workers_mb"]
    return snap


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def wait_gone(pids, timeout: float = 60.0) -> None:
    """Block until none of ``pids`` is alive (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(p)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)
