"""Process-tree CPU and memory from ``/proc``, plus host load counters."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    rp = raw.rfind(")")
    return [raw[raw.find("(") + 1 : rp]] + raw[rp + 2 :].split()


def snapshot() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, fields after comm) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = (int(st[2]), st[0], st[1:])
    return out


def subtree(snap: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _f) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out.append(pid)
            todo.extend(kids.get(pid, []))
    return out


def cpu_s(snap: dict, pids, own_only: bool = False) -> float:
    """CPU seconds of ``pids``; unless ``own_only``, also of their reaped
    children (cutime/cstime), so a subtree's total survives worker exits."""
    total = 0
    for pid in pids:
        f = snap[pid][2]
        # after comm: state ppid pgrp session tty tpgid flags minflt cminflt
        # majflt cmajflt utime stime cutime cstime
        total += int(f[11]) + int(f[12])
        if not own_only:
            total += int(f[13]) + int(f[14])
    return total / _TICK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    return [pid for pid, (_p, _c, f) in snapshot().items() if int(f[3]) == sid and f[0] != "Z"]


def pyworker_roots(snap: dict, tree: list[int]) -> list[int]:
    """The PySpark daemon processes in ``tree``: python children of the JVM."""
    roots = []
    for pid in tree:
        ppid, comm, _f = snap[pid]
        if comm.startswith("python") and ppid in snap and snap[ppid][1] == "java":
            roots.append(pid)
    return roots


def host_state() -> dict[str, float]:
    """1-minute load average and cumulative iowait/steal seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return {
        "load_1m": os.getloadavg()[0],
        "iowait_s": int(cpu[5]) / _TICK,
        "steal_s": int(cpu[8]) / _TICK,
    }


class Sampler:
    """Background sampler of the tree rooted at ``root``: peak total RSS,
    peak RSS of the Python worker subtree (daemon included), and the
    forked worker pids seen."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self.workers_seen: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_workers(self) -> tuple[float, int]:
        """(worker peak MiB, workers seen) since the last call; resets both."""
        with self._lock:
            out = (self.worker_peak_mb, len(self.workers_seen))
            self.worker_peak_mb = 0.0
            self.workers_seen = set()
        return out

    def sample(self) -> None:
        snap = snapshot()
        tree = subtree(snap, self.root)
        total = sum(rss_mb(p) for p in tree)
        roots = pyworker_roots(snap, tree)
        wtree = [p for r in roots for p in subtree(snap, r)]
        wtotal = sum(rss_mb(p) for p in wtree)
        with self._lock:
            self.peak_mb = max(self.peak_mb, total)
            self.workers_seen.update(p for p in wtree if p not in roots)
            self.worker_peak_mb = max(self.worker_peak_mb, wtotal)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
