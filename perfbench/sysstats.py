"""Process-tree memory and machine-load readings from ``/proc``.

psutil is not available, so the process tree is walked from
``/proc/<pid>/stat`` parent links and PSS is read from
``/proc/<pid>/smaps_rollup``.
"""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class PssSampler:
    """Samples the summed PSS of this process's tree while active.

    One daemon thread reads ``/proc`` every ``interval`` seconds; it issues
    no work to the engine. ``pids`` accumulates every process seen so the
    caller can wait for all of them to end at shutdown."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.samples = 0
        self.pids: set[int] = set()
        self.peak_breakdown: dict[str, int] = {}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = process_tree(os.getpid())
            self.pids.update(tree)
            if self._active.is_set():
                per = {p: pss_kb(p) for p in tree}
                total = sum(per.values())
                if total > self.peak_kb:
                    self.peak_kb = total
                    self.peak_breakdown = {f"{p}:{_comm(p)}": kb for p, kb in per.items() if kb}
                self.samples += 1
            self._stop.wait(self.interval)

    def start_window(self) -> None:
        self._active.set()

    def end_window(self) -> None:
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stamp() -> dict:
    """1-minute load average and cumulative /proc/stat steal counters."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {
        "t": time.time(),
        "load1": os.getloadavg()[0],
        "steal_ticks": vals[7],
        "total_ticks": sum(vals),
    }


def steal_pct(a: dict, b: dict) -> float:
    total = b["total_ticks"] - a["total_ticks"]
    return 100.0 * (b["steal_ticks"] - a["steal_ticks"]) / total if total > 0 else 0.0


def process_start_monotonic() -> float:
    """This process's start on the ``time.monotonic`` clock (10 ms
    resolution): its age comes from ``/proc/self/stat`` start ticks
    against ``/proc/uptime``, which share the boot-time clock."""
    now = time.monotonic()
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
