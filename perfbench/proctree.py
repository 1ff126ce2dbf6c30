"""Process-tree accounting from /proc: CPU seconds and peak RSS summed
over this process and every descendant (the Spark JVM, the PySpark
worker daemon and its workers)."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_sample() -> dict[tuple[int, str], float]:
    """CPU seconds (user + system, plus reaped children) per live process
    of the tree, keyed by (pid, start time) so a reused pid never merges
    two processes."""
    out = {}
    for pid in descendants():
        f = _stat(pid)
        if f is not None:
            out[(pid, f[19])] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_delta(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two samples; a process born in
    between counts in full."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of the live tree in MiB, summed per
    command name (java, python3, ...)."""
    out: dict[str, float] = {}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def reap(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in `pids` has exited; SIGKILL what is still
    alive after `timeout_s`. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if p != os.getpid()]
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while any(_running(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"
