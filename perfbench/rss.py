"""Resident-memory sampler, run as a child process of the benchmark.

    python3 perfbench/rss.py <pid>

Every 50 ms it sums the anonymous resident memory (resident minus
shared pages, from ``/proc/<pid>/statm``) of two groups of processes
under ``pid`` and keeps each group's peak: the driver (``pid`` itself,
the Python driver, and its ``java`` child, the driver JVM) and the
Python worker pool (every ``pyspark.daemon`` process). Any other
descendant is left out: this sampler, the host probe, and the short
helpers the JVM spawns around file writes, which until they exec share
the JVM's memory map and so would read as a second full-size JVM. Each line
read from stdin ("peak") is answered with both peaks in MiB since the
previous answer, and the peaks restart from the current sample. It
exits when stdin closes.
"""

from __future__ import annotations

import os
import select
import sys

PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.05


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field is parenthesised and may hold spaces
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _anon_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            fields = fh.read().split()
    except OSError:
        return 0
    # resident minus shared: anonymous memory only, so mapped jars and
    # memory-mapped shuffle blocks do not count
    return (int(fields[1]) - int(fields[2])) * PAGE


def tree_rss(root: int) -> tuple[int, int]:
    """(driver bytes, worker bytes) resident in the tree under root."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    driver = [root] + [p for p in children.get(root, [])
                       if os.path.basename(_exe(p)) == "java"]
    workers, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if b"pyspark.daemon" in _cmdline(pid):
            workers.append(pid)
    return (sum(map(_anon_bytes, driver)), sum(map(_anon_bytes, workers)))


def main() -> None:
    root = int(sys.argv[1])
    peak = (0, 0)
    while True:
        now = tree_rss(root)
        peak = (max(peak[0], now[0]), max(peak[1], now[1]))
        ready, _, _ = select.select([sys.stdin], [], [], INTERVAL_S)
        if not ready:
            continue
        if not sys.stdin.readline():
            return
        sys.stdout.write(f"{peak[0] / (1 << 20):.3f} "
                         f"{peak[1] / (1 << 20):.3f}\n")
        sys.stdout.flush()
        peak = tree_rss(root)


if __name__ == "__main__":
    main()
