"""Run context recorded beside every result: without core count, the
calibration probe and CPU steal, a number is not comparable to another."""

from __future__ import annotations

import os


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> int:
    """Machine-wide CPU steal from /proc/stat (clock ticks)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of process
    ``root`` and all its live descendants: the driver, the Spark JVM it
    launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we listed
            continue
        f = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def pass_start() -> dict:
    return {"steal": steal_ticks(), "cpu_s": tree_cpu_s(os.getpid())}


def pass_context(before: dict) -> dict:
    """Since ``before``: CPU seconds the engine's processes used, steal
    seconds of the machine; and the load average now."""
    cpu_s = tree_cpu_s(os.getpid()) - before["cpu_s"]
    steal = steal_ticks() - before["steal"]
    return {
        "cpu_s": cpu_s,
        "steal_s": steal / os.sysconf("SC_CLK_TCK"),
        "loadavg": loadavg(),
    }


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_commit(root: str) -> str | None:
    """HEAD commit read from ``<root>/.git`` (no git process: a checkout
    without ``.git`` must not search the parent directories)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def run_context(spark, root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(root),
    }
