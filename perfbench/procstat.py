"""Process-tree CPU and memory from ``/proc``, and the per-run host record.

The benchmark's process tree is the driver (this Python process), the JVM it
launches and the JVM's Python workers.  CPU time is utime+stime of every live
process in the tree plus cutime+cstime, which holds the time of children that
already exited and were reaped by a parent in the tree.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, tuple[int, float, int, bool, bool]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes, is a
    Python process, is a zombie)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = raw[raw.rfind(b")") + 2 :].split()
        # fields[0] is field 3 of proc(5): state
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])
        comm = raw[raw.find(b"(") + 1 : raw.rfind(b")")]
        out[int(name)] = (
            ppid, ticks / _CLK, int(fields[21]) * _PAGE, comm.startswith(b"python"), fields[0] == b"Z",
        )
    return out


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in table:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_usage(root: int | None = None) -> tuple[float, float, float]:
    """(cpu seconds, rss MiB, rss MiB of its Python processes) summed over
    the process tree under ``root``."""
    table = _stat_table()
    pids = _tree(table, root or os.getpid())
    return (
        sum(table[p][1] for p in pids),
        sum(table[p][2] for p in pids) / 2**20,
        sum(table[p][2] for p in pids if table[p][3]) / 2**20,
    )


def tree_cpu() -> float:
    return tree_usage()[0]


class PeakRss:
    """Samples the tree's summed RSS on a background thread: all of it, and
    the Python processes' (driver and Spark's Python workers) alone."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.py_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        _, rss, py = tree_usage()
        self.peak_mb = max(self.peak_mb, rss)
        self.py_peak_mb = max(self.py_peak_mb, py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _copy_gbps(seconds: float) -> float:
    import numpy as np

    a = np.ones(1 << 25, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.copyto(b, a)
        n += 1
    return 2 * n * a.nbytes / (time.perf_counter() - t0) / 1e9


def memcpy_gbps(workers: int, seconds: float = 0.1) -> float:
    """Aggregate memcpy GB/s over ``workers`` concurrent processes, each
    started, read and waited for here."""
    cmd = [sys.executable, __file__, "--copy-probe", str(seconds)]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) for _ in range(workers)]
    try:
        outs = [p.communicate(timeout=60)[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"memcpy probe failed: {[p.returncode for p in procs]}")
    return round(sum(float(o) for o in outs), 2)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_record() -> dict:
    n = nproc()
    return {
        "nproc": n,
        "mem_total_mb": mem_total_mb(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        # one reading per distinct worker count: a dict keyed by count
        "memcpy_gbps": {str(w): memcpy_gbps(w) for w in sorted({1, n})},
    }


# -- processes the run leaves behind -------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Make this process the reaper of its orphaned descendants, so one whose
    parent exits (a Spark Python worker after the JVM, say) is re-parented
    here and found by ``stop_descendants`` instead of outliving the run.
    Returns False where the kernel does not support it."""
    libc = ctypes.CDLL(None, use_errno=True)
    return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def _live_descendants() -> dict[int, str]:
    me = os.getpid()
    table = _stat_table()
    out = {}
    for pid in _tree(table, me):
        if pid == me or table[pid][4]:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out[pid] = f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
        except OSError:
            continue
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 5.0) -> list[str]:
    """Terminate every process still running under this one, kill what is
    left after ``grace`` seconds, and reap them all.  Returns the command
    lines of the processes found running."""
    found = _live_descendants()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace
    left = found
    while left:
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        _reap()
        left = _live_descendants()
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
    # every descendant has exited; wait for the last of our children
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break
    return sorted(found.values())


if __name__ == "__main__" and sys.argv[1:2] == ["--copy-probe"]:
    print(_copy_gbps(float(sys.argv[2])))
