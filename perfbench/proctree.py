"""Resident memory of a process tree, read from ``/proc``.

The tree of one measured process is: the Python Spark driver, the JVM it
launches, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_and_comm(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # comm may contain spaces: it is the text between the outer parens
    comm = s[s.index("(") + 1:s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    return int(fields[1]), comm


def descendants(root: int) -> dict:
    """{pid: (ppid, comm)} of ``root`` and everything below it."""
    children: dict = {}
    comms: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid, comm = _ppid_and_comm(int(entry))
        except (OSError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
        comms[int(entry)] = (ppid, comm)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in comms:
            out[pid] = comms[pid]
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def classify(root: int, tree: dict) -> dict:
    """Split the tree into driver / jvm / workers by process name.  A
    short-lived child the JVM forks to run a command (a copy of the JVM
    until it execs) is a ``helper``: its RSS is pages it shares with
    the JVM, so it is not summed."""
    kinds: dict = {}
    for pid, (ppid, comm) in tree.items():
        parent = tree.get(ppid, (None, ""))[1]
        if pid == root:
            kinds[pid] = "driver"
        elif comm.startswith("python"):
            kinds[pid] = "workers"
        elif comm == "java" and parent != "java":
            kinds[pid] = "jvm"
        else:
            kinds[pid] = "helper"
    return kinds


class RssSampler:
    """Samples the summed RSS of a process tree every ``interval``
    seconds while a ``window`` is named; keeps, per window, the peak sum
    and the peak of each kind.  Remembers every pid seen, for clean-up
    (``remember`` adds the current tree outside any window)."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.window: str | None = None
        self.peak_total: dict = {}
        self.peak_by_kind: dict = {}
        self.seen: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def remember(self) -> None:
        self.seen.update(descendants(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            window = self.window
            if window is None:
                continue
            tree = descendants(self.root)
            self.seen.update(tree)
            by_kind: dict = {}
            for pid, kind in classify(self.root, tree).items():
                if kind != "helper":
                    by_kind[kind] = by_kind.get(kind, 0) + rss_bytes(pid)
            self.peak_total[window] = max(self.peak_total.get(window, 0),
                                          sum(by_kind.values()))
            peaks = self.peak_by_kind.setdefault(window, {})
            for kind, v in by_kind.items():
                peaks[kind] = max(peaks.get(kind, 0), v)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``.
    Steal is time the hypervisor ran another guest on our virtual CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"
