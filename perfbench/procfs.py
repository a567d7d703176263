"""Host sizing, process-tree accounting read from ``/proc``, and the
clean-up that stops every process the benchmark started."""

import ctypes
import os
import signal
import time
from typing import Dict, List, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def host_cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(cores: int, mem_mb: int) -> int:
    """1 GiB per core (the pipeline's measured need), never more than
    half the host's RAM and never less than 1 GiB."""
    return max(1024, min(1024 * cores, mem_mb // 2))


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        data = f.read()
    # comm may hold spaces and parens: split after the LAST ')'
    return data[data.rindex(")") + 2:].split()


def _processes() -> Dict[int, Tuple[int, List[str]]]:
    """pid -> (ppid, stat fields after comm) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat_fields(int(name))
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue                      # exited while we listed /proc
        out[int(name)] = (int(fields[1]), fields)
    return out


def descendants(root: int, procs: Dict) -> List[int]:
    children: Dict[int, List[int]] = {}
    for pid, (ppid, _f) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of this process and all its live descendants,
    plus what they already reaped from exited children (cutime/cstime),
    so a worker that exits mid-interval is not lost."""
    procs = _processes()
    total = 0
    for pid in descendants(os.getpid(), procs):
        f = procs.get(pid)
        if f is None:
            continue
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14
        total += sum(int(x) for x in f[1][11:15])
    return total / _TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii",
                  errors="replace") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii",
                  errors="replace") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def python_worker_hwm_mb() -> float:
    """Largest peak RSS of any Python process below the JVM (the
    pyspark daemon and its forked workers). The driver process itself
    and the JVM are excluded."""
    procs = _processes()
    me = os.getpid()
    best = 0
    for pid in descendants(me, procs):
        if pid == me or not _comm(pid).startswith("python"):
            continue
        best = max(best, _vm_hwm_kb(pid))
    return best / 1024


def cpu_ticks() -> Tuple[int, int]:
    """(steal ticks, all ticks) summed over CPUs from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # (guest time is already counted in user)
    return vals[7], sum(vals[:8])


def steal_frac(before: Tuple[int, int], after: Tuple[int, int]) -> float:
    d_all = after[1] - before[1]
    return (after[0] - before[0]) / d_all if d_all > 0 else 0.0



# ---------------------------------------------------------------------------
# process clean-up


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init: the pyspark daemon and its workers outlive the JVM that forked
    them, and the multiprocessing resource tracker outlives its pool.
    ``reap_descendants`` can then wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def _reap_zombies() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _others() -> List[int]:
    me = os.getpid()
    return [p for p in descendants(me, _processes()) if p != me]


def reap_descendants(grace_s: float = 10.0) -> List[int]:
    """Stop every process below this one and wait until each has ended:
    give them ``grace_s`` to exit on their own, then SIGTERM, then
    SIGKILL. Returns the pids that had to be signalled."""
    # the resource tracker ignores SIGTERM and exits when its pipe closes
    from multiprocessing import resource_tracker
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    signalled: List[int] = []
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _others():
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap_zombies()
            if not _others():
                return sorted(set(signalled))
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes {_others()} outlived SIGKILL")
