"""Peak resident memory and CPU time of this process and all its
descendants (the Spark driver JVM and its Python workers), from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, by their (truncated) thread names
JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _stat_fields(stat: bytes) -> list[bytes]:
    # the command name may hold spaces; fields resume after its ')'
    return stat[stat.rindex(b")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(_stat_fields(stat)[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the process's live JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm", "rb") as f:
                if f.read().strip() not in JIT_THREADS:
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                ticks += sum(int(x) for x in _stat_fields(f.read())[11:13])
        except OSError:
            continue
    return ticks


def tree_cpu_seconds(root: int | None = None) -> tuple[float, float]:
    """(all, without JIT): user + system CPU time of the live process
    tree, including what each process collected from children it has
    reaped; the second figure leaves out the JVM's JIT compiler threads.
    Those threads must not exit during a measurement (the benchmark's
    JVMs run with -XX:-UseDynamicNumberOfCompilerThreads)."""
    ticks = jit = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = _stat_fields(f.read())
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
        jit += _jit_ticks(pid)
    return ticks / _TICK, (ticks - jit) / _TICK


def wait_descendants(timeout: float = 20.0) -> None:
    """Wait until this process has no descendants left; kill those still
    alive after `timeout` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap our own exited children
        except ChildProcessError:
            pass
        left = _tree()[1:]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


class PeakRss:
    """Background sampler; `peak_mb` is the largest tree RSS seen between
    start() and stop()."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
