"""Host-side probes the benchmark takes from outside the program: memory
and CPU time of the process tree, a CPU calibration stamp, and store
footprints read by listing the store directory."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; ppid is the
        # second field after its closing parenthesis
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` (default:
    this process) and its descendants, including children they reaped.
    Time the hypervisor gives to other machines is not in it, which makes
    it steadier than wall time on a shared host."""
    total = 0
    for pid in _tree(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the driver
    Python, the JVM it launched and its Python workers), as the summed
    proportional set size, so pages that forked workers share with their
    parent are counted once."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's resident set every ``interval`` seconds on
    a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


def cpu_mops(seconds: float = 0.3) -> float:
    """Pure-Python integer work rate in million loop steps per second: a
    calibration stamp, so drift of the machine is not read as a change of
    the program."""
    steps, x = 0, 1
    t0 = time.perf_counter()
    while True:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        steps += 10_000
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return steps / elapsed / 1e6


def store_footprint(store_dir: str) -> dict[str, int]:
    """Parquet data files, (graph, bucket) partitions holding them, and
    their bytes in a store's triple table, from a directory listing."""
    root = os.path.join(store_dir, "triples")
    files = partitions = size = 0
    for dirpath, _, names in os.walk(root):
        data = [n for n in names if n.endswith(".parquet")]
        files += len(data)
        partitions += bool(data)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in data)
    return {"files": files, "partitions": partitions, "bytes": size}
