"""Process, machine and statistics probes for the store benchmark.

Everything here reads ``/proc`` or the interpreter; nothing touches the
engine. CPU is read per process class so the Spark workloads can report
the JVM and its Python workers apart from the benchmark's own process.
"""

from __future__ import annotations

import os
import platform
import resource
import statistics
import subprocess
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process
    started, to the 1/CLK_TCK resolution of ``/proc``."""
    with open("/proc/self/stat", "rb") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / CLK_TCK)


def _proc_stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    close = data.rindex(b")")
    comm = data[data.index(b"(") + 1:close].decode(errors="replace")
    fields = data[close + 2:].split()
    cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK  # utime stime cutime cstime
    return comm, int(fields[1]), cpu


class CpuProbe:
    """CPU seconds (user+sys) of this process and of every process it
    started, split into ``python`` (this process, all threads),
    ``jvm`` (descendants named java) and ``pyworker`` (every other
    descendant: Spark's Python daemon and its forked workers).

    Reaped workers stay counted through their parent's cutime/cstime,
    so the sums only grow. With ``children=False`` the /proc walk is
    skipped: the JVM-free workload starts no process.
    """

    def __init__(self, children: bool):
        self.children = children
        self.pid = os.getpid()

    def sample(self, python_last: bool) -> dict[str, float]:
        """``python_last`` reads this process's clock after the /proc
        walk (use it at an op's start, ``False`` at its end), so the
        walk's own CPU stays outside the op."""
        out = {"python": 0.0, "jvm": 0.0, "pyworker": 0.0}
        if not python_last:
            out["python"] = time.process_time()
        if self.children:
            self._walk(out)
        if python_last:
            out["python"] = time.process_time()
        return out

    def _walk(self, out: dict[str, float]) -> None:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        todo = list(kids.get(self.pid, ()))
        while todo:
            pid = todo.pop()
            comm, _, cpu = stats[pid]
            out["jvm" if comm == "java" else "pyworker"] += cpu
            todo.extend(kids.get(pid, ()))


def cpu_totals() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in jiffies."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU jiffies between two samples that the hypervisor
    stole (field 8 of the cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total else 0.0


def peak_rss_mib() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                pass  # removed by a concurrent cleanup between listing and stat
    return total


def fs_type(path: str) -> str:
    """Filesystem type of the mount that holds ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def versions() -> dict[str, str]:
    import pyarrow
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        java = "unavailable"
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
    }


# ---------------- statistics ----------------

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def timing_summary(values_s: list[float]) -> dict:
    """Median plus the highest percentile that still has at least ten
    samples beyond it (none below forty samples), in milliseconds."""
    n = len(values_s)
    out = {"n": n}
    if not n:
        return out
    out["p50_ms"] = statistics.median(values_s) * 1000.0
    if n >= 40:
        for p in TAIL_CANDIDATES:
            if n * (1.0 - p / 100.0) >= 10:
                out[f"p{p:g}_ms"] = percentile(values_s, p) * 1000.0
                break
    return out
