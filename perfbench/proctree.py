"""Run one command as a measured process tree.

The benchmark process makes itself a child subreaper, so every
descendant of a run (spark-submit's JVM, the Python driver, the Python
daemon and its forked workers) is reaped by a process that waits for
it, and the CPU it used lands in this process's RUSAGE_CHILDREN. Peak
memory is the largest sum of RSS over the live tree, sampled.
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

PR_SET_CHILD_SUBREAPER = 36
SAMPLE_S = 0.2
PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def machine_state() -> dict:
    """1-minute loadavg and cumulative CPU ticks (total, steal)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load1, "ticks": sum(cpu[:8]), "steal": cpu[7]}


@dataclass
class TreeRun:
    returncode: int
    timed_out: bool
    launch_epoch: float
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    stderr_tail: str
    env_before: dict
    env_after: dict

    @property
    def steal_share(self) -> float:
        dt = self.env_after["ticks"] - self.env_before["ticks"]
        ds = self.env_after["steal"] - self.env_before["steal"]
        return ds / dt if dt else 0.0


class _Sampler(threading.Thread):
    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.stop = threading.Event()
        self.peak = 0

    def run(self) -> None:
        me = os.getpid()
        while not self.stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me))
            self.peak = max(self.peak, total)
            self.stop.wait(SAMPLE_S)


def _reap_tree(grace_s: float = 10.0) -> None:
    """Wait for every remaining descendant; kill what outlives grace."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def run_tree(cmd: list[str], env: dict, cwd: str, timeout_s: float) -> TreeRun:
    """Run ``cmd`` to completion (or kill it at ``timeout_s``) and
    return its wall, CPU and peak-RSS figures."""
    os.sync()  # earlier runs' dirty pages are not flushed on our time
    before = machine_state()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    sampler = _Sampler()
    launch = time.time()
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    sampler.start()
    timed_out = False
    try:
        _out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        timed_out = True
        for p in _descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _out, err = proc.communicate()
    wall = time.perf_counter() - t0
    sampler.stop.set()
    sampler.join()
    _reap_tree()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    return TreeRun(
        returncode=proc.returncode, timed_out=timed_out,
        launch_epoch=launch, wall_s=wall, cpu_s=cpu,
        peak_rss_mb=sampler.peak / 2**20, stderr_tail=err[-3000:], env_before=before,
        env_after=machine_state(),
    )
