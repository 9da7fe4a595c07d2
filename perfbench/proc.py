"""CPU, memory and lifetime of this process tree (driver, Spark JVM and
Python workers), read from /proc."""

from __future__ import annotations

import os
import signal
import time

_CLK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(int(p))
            if st is not None:
                parent[int(p)] = int(st[1])
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sorted(tree)


def tree_cpu_seconds() -> float:
    """utime+stime of every live process in the tree, plus the cutime+cstime
    they collected from children already reaped (short-lived Python workers)."""
    total = 0.0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # post-comm fields: [11]=utime [12]=stime [13]=cutime [14]=cstime
            total += sum(int(x) for x in st[11:15]) / _CLK
    return total


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each live process in the tree,
    keyed ``<pid>:<name>``."""
    peaks = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            peaks[f"{pid}:{fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024.0
    return peaks


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_processes(pids: list[int], grace: float = 20.0) -> None:
    """Wait until every pid in ``pids`` (a snapshot of descendants taken
    before shutdown, so orphans re-parented away still count) has exited;
    after ``grace`` seconds send SIGTERM, then SIGKILL."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not any(_alive(p) for p in pids):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes did not exit: {[p for p in pids if _alive(p)]}")
