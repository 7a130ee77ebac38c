"""Process-tree CPU and memory readings from /proc, plus pre-flight checks.

The engine's work happens in the JVM this process launches and in the Python
workers that JVM forks, so every reading here is over the descendants of
the benchmark's own process (the benchmark process itself is excluded).
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

#: command-line fragments of a Spark JVM or a PySpark worker daemon
SPARK_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark.daemon",
                 "pyspark.worker", "spark-submit")


def _procs() -> dict[int, tuple[int, int, str]]:
    """pid → (ppid, cpu ticks, command name) for every live process.

    cpu ticks = utime + stime + cutime + cstime: a live process's own time,
    plus the time of children it has already reaped.  Summed over a tree,
    every process is then counted exactly once, whether it is still alive
    or has exited and been waited for by an ancestor in the tree.
    """
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue                      # exited while we were listing
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]),
                          raw[raw.index("(") + 1:raw.rindex(")")])
    return out


def _resident_kb(procs: dict, pid: int) -> int:
    """Resident memory of one process, counted so that a sum over a tree
    counts shared memory once.

    Python workers: proportional set size, each shared page divided among
    the processes sharing it; plain RSS would count the copy-on-write
    pages of every forked worker again.  The JVM: RSS from ``statm``.  It
    shares almost nothing with the tree, and its PSS costs a walk of its
    whole address space under its memory-map lock (about 25 ms of CPU per
    read on a 2 GB heap), which would slow the job being measured.  A fork
    of the JVM that has not yet exec'd (Hadoop's ``chmod`` calls fork from
    task threads, so its name is the thread's) shares the JVM's memory and
    counts 0: counted, it doubled a job's peak."""
    ppid, _, comm = procs[pid]
    try:
        if (procs.get(ppid, (0, 0, ""))[2] == "java"
                and os.readlink(f"/proc/{pid}/exe")
                == os.readlink(f"/proc/{ppid}/exe")):
            return 0
        if comm == "java":
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * _PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass                              # exited, or a kernel thread
    return 0


def _descendants(procs: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage() -> tuple[float, float]:
    """(cpu seconds, resident MB) summed over the descendants of this
    process."""
    procs = _procs()
    pids = _descendants(procs, os.getpid())
    cpu = sum(procs[p][1] for p in pids) / _CLK
    return cpu, sum(_resident_kb(procs, p) for p in pids) / 1024


def wait_until_settled(step_s: float = 0.1, tol_mb: float = 2.0,
                       timeout_s: float = 5.0) -> None:
    """Wait until the tree's resident memory changes by less than
    ``tol_mb`` between two readings ``step_s`` apart."""
    deadline = time.monotonic() + timeout_s
    last = tree_usage()[1]
    while time.monotonic() < deadline:
        time.sleep(step_s)
        now = tree_usage()[1]
        if abs(now - last) < tol_mb:
            return
        last = now


class TreeMeter:
    """Context manager: CPU seconds used and peak resident MB of the
    process tree under this process while the block runs (sampled every
    ``interval`` seconds by a background thread; a job's peak often comes
    in its last few hundred milliseconds, when it writes its output)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_usage()[1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMeter":
        self._cpu0, rss = tree_usage()
        self.peak_rss_mb = rss
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        cpu1, rss = tree_usage()
        self.cpu_s = cpu1 - self._cpu0
        self.peak_rss_mb = max(self.peak_rss_mb, rss)


def stray_spark_processes() -> list[str]:
    """Command lines of Spark/PySpark processes that are not ours."""
    mine = set(_descendants(_procs(), os.getpid())) | {os.getpid()}
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if any(m in cmd for m in SPARK_MARKERS):
            found.append(f"{name}: {cmd[:160]}")
    return found


def wait_for_no_strays(grace_s: float = 20.0) -> list[str]:
    """Give exiting Spark processes ``grace_s`` to finish; returns the ones
    still alive after that (empty list = clear to start)."""
    deadline = time.monotonic() + grace_s
    while True:
        strays = stray_spark_processes()
        if not strays or time.monotonic() >= deadline:
            return strays
        time.sleep(0.5)


def descendants() -> list[int]:
    """Pids of every process under this one."""
    return _descendants(_procs(), os.getpid())


def wait_for_exit(pids: list[int], timeout_s: float = 60.0) -> list[int]:
    """Wait until every pid in ``pids`` has exited, also those re-parented
    away from this process when their parent exited first; returns the
    ones still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        live = _procs()
        left = [p for p in pids if p in live]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.2)


def host_sample() -> dict:
    """Load average and a short pure-Python CPU calibration: the seconds a
    fixed integer loop takes on one core right now.  Recorded beside each
    run so that noisy windows on a shared host are visible."""
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    calib = time.perf_counter() - t0
    return {"load1": load1, "load5": load5, "load15": load15,
            "calib_s": round(calib, 4), "cores": os.cpu_count()}
