"""Process-tree sampling from /proc: CPU seconds, summed memory and the
number of Python workers under the engine process (JVM + workers).

Memory is RSS for the engine's Python process and the JVM, and PSS
(proportional set size) for Spark's Python workers: the workers are
forks of one daemon, and summing their RSS would count the pages they
share once per fork, so the total would jump with the number of forks
alive at the sampling instant. (PSS is not read for the JVM: walking its
smaps takes ~15 ms and holds its memory-map lock.)"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds) of one process, None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (field 3); utime/stime are fields 14/15
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    """True unless the process is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


class TreeSampler:
    """Samples the tree rooted at `root` every `period_s` in a thread.
    `samples` is a list of (time, tree cpu seconds so far, tree memory
    bytes, python workers alive). CPU of a process that exits between
    samples is kept at its last sampled value."""

    def __init__(self, root: int, period_s: float = 0.2) -> None:
        self.root = root
        self.period_s = period_s
        self.samples: list[tuple[float, float, int, int]] = []
        self._cpu: dict[int, float] = {}
        self._workers: dict[int, bool] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree, frontier = set(), [self.root]
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in tree:
                tree.add(pid)
                frontier.extend(children.get(pid, []))
        mem = 0
        for pid in tree:
            self._cpu[pid] = stats[pid][1]
            if pid not in self._workers:
                self._workers[pid] = pid != self.root and _is_python_worker(pid)
            mem += _pss_bytes(pid) if self._workers[pid] else _rss_bytes(pid)
        self.seen |= tree
        workers = sum(1 for pid in tree if self._workers[pid])
        self.samples.append((time.time(), sum(self._cpu.values()), mem, workers))

    def reap(self, timeout_s: float = 15.0) -> None:
        """After the root exited: wait for every process seen in the
        tree to be gone, SIGKILL what is left at the timeout."""
        deadline = time.time() + timeout_s
        killed = False
        while True:
            alive = [p for p in self.seen if _alive(p)]
            if not alive:
                return
            if time.time() > deadline:
                if killed:
                    raise RuntimeError(f"engine processes {alive} survived SIGKILL")
                for pid in alive:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                killed, deadline = True, time.time() + timeout_s
            time.sleep(0.05)
