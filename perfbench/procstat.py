"""Process-tree bookkeeping from ``/proc``: resident memory of the Spark
driver JVM plus its Python workers, and the shutdown wait that makes sure
none of them outlives the benchmark.

Memory is summed as PSS (proportional set size): the Python workers are
forked from the PySpark daemon and share most of its pages, so summed RSS
counts those pages once per worker and moves with the number of workers
alive at the sampling instant."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants() -> list[int]:
    """Every live process below this one."""
    children = _children_map()
    out: list[int] = []
    todo = [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class RssSampler:
    """Samples the summed PSS of this process's descendants (the JVM, the
    PySpark daemon and its workers; the benchmark's own interpreter is left
    out) on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="rss-sampler", daemon=True
        )

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited, killing the ones
    still alive after ``timeout_s``. The PySpark daemon and its workers are
    re-parented when the JVM exits, so they are tracked by pid, not by
    descent."""
    deadline = time.time() + timeout_s
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline + 10:
            raise RuntimeError(f"processes did not exit: {alive}")
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
