"""Host readers: container CPU-seconds and peak resident memory of the
process tree (driver Python, its JVM and the JVM's Python workers); and
the teardown that stops that tree before the benchmark exits."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

# cgroup v2 first (one unified hierarchy), then the v1 cpuacct mounts; the
# v1 controller is mounted as "cpuacct" or co-mounted as "cpu,cpuacct"
_V2_STAT = "/sys/fs/cgroup/cpu.stat"
_V1_USAGE = (
    "/sys/fs/cgroup/cpuacct/cpuacct.usage",
    "/sys/fs/cgroup/cpu,cpuacct/cpuacct.usage",
)


def _read_v2(path: str) -> float:
    with open(path) as f:
        for line in f:
            key, _, value = line.partition(" ")
            if key == "usage_usec":
                return int(value) / 1e6
    raise ValueError(f"no usage_usec in {path}")


def _read_v1(path: str) -> float:
    with open(path) as f:
        return int(f.read().strip()) / 1e9


def _tree_cpu_seconds() -> float:
    """Fallback without a readable cgroup: utime+stime of this process and
    its live descendants (misses workers that already exited)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


def cpu_seconds() -> float:
    """Container CPU-seconds consumed so far (cgroup v2 cpu.stat, else v1
    cpuacct.usage, else the process tree)."""
    for reader, path in [(_read_v2, _V2_STAT)] + [(_read_v1, p) for p in _V1_USAGE]:
        try:
            return reader(path)
        except (OSError, ValueError):
            continue
    return _tree_cpu_seconds()


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed VmRSS of `root` and all its descendants, in MiB."""
    kb = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return kb / 1024


class PeakRss:
    """Samples the process tree's resident memory on a daemon thread until
    stop(); `peak_mb` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


# -- teardown -------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants' orphans (Linux
    prctl), so Python workers whose parent JVM exits first are re-parented
    here, where stop_descendants can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _identity(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], fields[19]
    except (OSError, IndexError):
        return None


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_jvm(timeout_s: float) -> None:
    """PySpark leaves its gateway JVM running after SparkSession.stop() and
    lets it die when the Python process exits, which happens after the
    benchmark has exited. Close the JVM's stdin pipe, on whose EOF it exits,
    and wait for it; kill it if it does not exit in time."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def stop_descendants(timeout_s: float = 15.0) -> None:
    """Stop every process this one started (the Spark JVM, its Python
    workers, anything else below it) and wait until each has ended:
    the JVM first, by closing its stdin; then SIGTERM to what is left and
    SIGKILL after a grace period."""
    me = os.getpid()
    started = {pid: _identity(pid) for pid in _process_tree(me) if pid != me}
    _stop_jvm(timeout_s)
    term_at = time.monotonic() + 5.0
    kill_at = term_at + timeout_s
    sent = None
    while True:
        _reap_children()
        for pid in _process_tree(me):
            if pid != me and pid not in started:
                started[pid] = _identity(pid)
        alive = []
        for pid, ident in started.items():
            now = _identity(pid)
            # same pid and start time: the same process; "Z": ended, unreaped
            if now is not None and ident is not None and now[1] == ident[1] and now[0] != "Z":
                alive.append(pid)
        if not alive:
            return
        now_t = time.monotonic()
        sig = signal.SIGKILL if now_t >= kill_at else signal.SIGTERM if now_t >= term_at else None
        if sig is not None and sig != sent:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            sent = sig
        time.sleep(0.05)
