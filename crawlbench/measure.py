"""Process-level measurement helpers: peak RSS and CPU time over a process
tree, waiting for that tree to end, the host-speed probe, medians and the
run record.

Nothing here imports pyspark, so the harness can check its inputs and
fail fast before a JVM exists.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import signal
import statistics
import subprocess
import time

def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields 3.. of /proc/<pid>/stat (after the parenthesised name)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited between listdir and open


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))  # ppid
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_mb(root: int) -> dict[str, list[float]]:
    """Peak resident memory (the kernel's VmHWM, so no sampling) of each
    process in the tree, grouped by process name."""
    out: dict[str, list[float]] = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        out.setdefault(st["Name"].strip(), []).append(int(st["VmHWM"].split()[0]) / 1024)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of *root* and its descendants, including
    the reaped children each of them has waited for."""
    total = 0
    for pid in _tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so a process whose parent exits first (a
    Python worker of a stopped JVM, the multiprocessing resource tracker)
    stays in the tree and ``reap_descendants`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_resource_tracker() -> None:
    """Stop and wait for the resource tracker that a ``spawn`` process pool
    (the host probe) leaves running until its parent exits."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def reap_descendants(grace_s: float = 20.0) -> list[int]:
    """Wait until every descendant of this process has ended; after
    *grace_s* seconds send SIGTERM, after twice that SIGKILL. Returns the
    pids that had to be signalled."""
    me = os.getpid()
    start = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        while True:  # collect every child that has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = [p for p in _tree(me) if p != me]
        if not alive:
            return sorted(signalled)
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else 0
        for pid in alive:
            if sig and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def probe_pages_per_s(nproc: int) -> float:
    """Host-speed probe: the crawl's hot kernel in a bare process pool
    (``boris_spark.synth.ceiling``), kept short. It identifies a slow host
    window; no metric is normalised by it."""
    from boris_spark.synth.ceiling import probe

    return probe(nproc, total=50 * nproc, reps=1)


def source_id(root: str) -> str:
    """The git commit of *root* when it is a work tree, else a sha256 over
    the program's source files (a checkout without ``.git``)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "boris_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / (1 << 20)
