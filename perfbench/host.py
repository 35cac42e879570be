"""Host hygiene and process measurement from ``/proc`` (no psutil).

- ``configure_env`` pins what the Spark session inherits: the core
  count, the driver heap, the Python workers' import path and Spark's
  scratch directories, all inside the checkout.
- ``RssSampler`` samples the summed resident memory of this process
  and every descendant (the JVM and the Python workers it forks);
  ``tree_cpu_s`` sums their CPU time.
- ``HostProbe`` records load, steal time and how much CPU processes
  outside this benchmark used, so a contended run is marked as such.
- ``adopt_orphans`` and ``reap_all`` make sure no process this
  benchmark started outlives it, however deep in the tree it was.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

__all__ = ["CORES", "DRIVER_HEAP", "configure_env", "RssSampler",
           "HostProbe", "adopt_orphans", "reap_all", "tree_cpu_s"]

# The benchmark's session size: one core less than the host has, at
# most local[4]. The spare core runs the driver process, the JVM's own
# threads and the RSS sampler. On a 4-core host a pass took about as
# long on local[2], local[3] and local[4].
CORES = max(1, min(4, (os.cpu_count() or 1) - 1))
# Driver heap for the local session. The session default (24g) does not
# fit a small shared host; the largest workload peaks well below this.
DRIVER_HEAP = "2g"

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def configure_env(root: str, work: str) -> None:
    """Environment for the session this process will launch. Must run
    before the JVM starts: the JVM and its Python workers copy it."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, cpu ticks incl. reaped children)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces: fields follow the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        ticks = sum(int(v) for v in fields[11:15])
        table[int(name)] = (int(fields[1]), ticks)
    return table


def _tree(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts.

    A descendant whose parent exits (a Python worker of the PySpark
    daemon when the JVM stops, the multiprocessing resource tracker) is
    then re-parented to this process instead of to init, so
    ``reap_all`` can still see it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in _proc_table().items() if ppid == me]


def reap_all(grace: float = 30.0) -> None:
    """Wait until this process has no child left, living or zombie.

    With ``adopt_orphans`` in force every descendant ends up a child
    here once its own parent has exited. Children still running after
    ``grace`` seconds are killed; the wait continues until each has
    been reaped."""
    from multiprocessing import resource_tracker

    # the tracker exits when its pipe from this process closes
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = _children()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # reaped since the listing
        time.sleep(0.05)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process tree while started.

    Sampling runs on a daemon thread every ``interval`` seconds; call
    ``stop`` to join it. ``window`` returns the largest sample since
    the previous ``window`` (or ``start``) and opens a new window."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        pids = _tree(_proc_table(), os.getpid())
        mb = sum(_rss_bytes(p) for p in pids) / 2**20
        with self._lock:
            self._peak_mb = max(self._peak_mb, mb)
        return mb

    def window(self) -> float:
        self.sample()
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    busy = sum(vals[:8]) - idle - steal
    return busy, steal


def _own_ticks() -> int:
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())
               if p in table)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, reaped ones included. Time the hypervisor stole is
    not in it."""
    return _own_ticks() / _TICK


class HostProbe:
    """Host state at ``start`` and ``stop``: load average, steal, and
    the CPU that processes outside this benchmark's tree used between
    the two. ``contended`` is true when other work took more than one
    core on average (kernel I/O threads working for this run count as
    other work, so a quiet host reads a few tenths), or the hypervisor
    stole more than 5%."""

    def start(self) -> "HostProbe":
        self.load_before = os.getloadavg()
        self._t0 = time.monotonic()
        self._busy0, self._steal0 = _cpu_ticks()
        self._own0 = _own_ticks()
        return self

    def stop(self) -> dict:
        wall = max(time.monotonic() - self._t0, 1e-9)
        busy, steal = _cpu_ticks()
        own = _own_ticks()
        ncpu = os.cpu_count() or 1
        other_cores = max(0.0, ((busy - self._busy0) - (own - self._own0))
                          / _TICK / wall)
        steal_frac = (steal - self._steal0) / _TICK / wall / ncpu
        return {
            "cores": CORES,
            "host_cpus": ncpu,
            "driver_heap": DRIVER_HEAP,
            "loadavg_before": round(self.load_before[0], 2),
            "loadavg_after": round(os.getloadavg()[0], 2),
            "other_busy_cores": round(other_cores, 3),
            "steal_frac": round(steal_frac, 4),
            "contended": other_cores > 1.0 or steal_frac > 0.05,
        }
