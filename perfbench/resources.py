"""Process bookkeeping read from /proc, outside the program: peak resident
memory of the Python driver and the Spark driver JVM, CPU time of the whole
process tree, and an orderly shutdown of the JVM the session started."""

from __future__ import annotations

import os
import subprocess


def stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name (state first),
    or None when the process or thread is gone."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def processes() -> dict[int, list[str]]:
    """pid -> stat fields of every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = stat_fields(f"/proc/{d}/stat")
            if fields is not None:
                out[int(d)] = fields
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, fields in processes().items():
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this Python process and that of every JVM it started."""
    me = os.getpid()
    return {
        "python": _vm_hwm_kb(me) / 1024.0,
        "jvm": sum(_vm_hwm_kb(p) for p in descendants(me) if _is_java(p)) / 1024.0,
    }


_TICK = os.sysconf("SC_CLK_TCK")
#: HotSpot's JIT compiler threads (names truncated to 15 characters).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str, with_children: bool) -> int | None:
    fields = stat_fields(stat_path)
    if fields is None:
        return None
    return sum(int(x) for x in fields[11 : 15 if with_children else 13])


def cpu_snapshot() -> tuple[int, dict[str, int]]:
    """Cumulative CPU ticks of this process and every live descendant (the
    JVM, Spark's Python workers; reaped children included), and the ticks of
    each live JIT compiler thread of the JVMs."""
    total, jit = 0, {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        ticks = _cpu_ticks(f"/proc/{pid}/stat", with_children=True)
        if ticks is None:
            continue
        total += ticks
        if not _is_java(pid):
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if name.startswith(_JIT_THREADS):
                t = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", with_children=False)
                if t is not None:
                    jit[tid] = t
    return total, jit


def cpu_s(before: tuple[int, dict[str, int]], after: tuple[int, dict[str, int]]) -> tuple[float, float]:
    """CPU seconds the whole process tree spent between two snapshots, and
    the part of it spent by the JIT compiler threads that were still alive
    at the second snapshot (a lower bound: HotSpot may retire a compiler
    thread in between, and its share then stays only in the total)."""
    jit = sum(t - before[1].get(tid, 0) for tid, t in after[1].items())
    return (after[0] - before[0]) / _TICK, jit / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: the share of
    time the hypervisor ran someone else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (it exits on
    EOF) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass  # the JVM already closed its end
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
