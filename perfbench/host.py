"""Host sizing, the fixed CPU probe and the process tree of one run.

Sizing comes from the machine the run is on, never from a fixed cluster
shape: one `local[N]` driver with N task slots, N = the CPUs this process
may run on (what `nproc` prints, further capped by a cgroup CPU quota), and
a driver heap derived from /proc/meminfo.  The load is generated by this one
process, so there are never more task slots than cores.
"""

from __future__ import annotations

import os
import signal
import threading
import time

HEAP_SHARE = 5  # driver heap = MemTotal / HEAP_SHARE, clamped below
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096
YOUNG_SHARE = 6  # young generation = heap / YOUNG_SHARE


def cpu_quota(cpu_max: str | None) -> int | None:
    """CPUs allowed by a cgroup v2 `cpu.max` line ("max 100000" = none)."""
    if not cpu_max:
        return None
    quota, _, period = cpu_max.strip().partition(" ")
    if quota == "max" or not period:
        return None
    return max(1, -(-int(quota) // int(period)))


def mem_total_mb(meminfo: str) -> int:
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise ValueError("MemTotal missing from meminfo")


def size_host(n_cpus: int, quota: int | None, mem_mb: int) -> dict:
    """Task slots and driver heap for this host, with the reason for each."""
    slots = min(n_cpus, quota) if quota else n_cpus
    heap = min(HEAP_MAX_MB, max(HEAP_MIN_MB, mem_mb // HEAP_SHARE))
    return {
        "master": f"local[{slots}]",
        "slots": slots,
        "heap_mb": heap,
        "young_mb": heap // YOUNG_SHARE,
        "reason": (
            f"slots = {slots}: {n_cpus} schedulable CPUs"
            + (f", cgroup quota {quota}" if quota else "")
            + "; one driver process generates the load with one task per core"
            " (no local-cluster, no oversubscription). "
            f"heap = {heap} MB: MemTotal {mem_mb} MB / {HEAP_SHARE}, clamped to"
            f" [{HEAP_MIN_MB}, {HEAP_MAX_MB}] MB, young generation heap / {YOUNG_SHARE},"
            " no pre-touch, so RSS shows use"
        ),
    }


def this_host() -> dict:
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota = cpu_quota(f.read())
    except OSError:
        quota = None
    with open("/proc/meminfo") as f:
        mem = mem_total_mb(f.read())
    return size_host(len(os.sched_getaffinity(0)), quota, mem)


def cpu_probe_s(n: int = 1_500_000) -> float:
    """Wall time of a fixed pure-Python loop: a record of host speed, next
    to every run.  It normalises nothing."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Process tree
# ---------------------------------------------------------------------------


def _ppid_and_state(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: fields resume after the last ')'
    fields = stat[stat.rfind(")") + 2 :].split()
    return int(fields[1]), fields[0]


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ps = _ppid_and_state(int(name))
            if ps is not None:
                children.setdefault(ps[0], []).append(int(name))
    out: set[int] = set()
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others, between two
    /proc/stat `cpu` lines."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _alive(pid: int) -> bool:
    ps = _ppid_and_state(pid)
    return ps is not None and ps[1] != "Z"


def reap(pids: set[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for `pids` to end; SIGKILL what is left after `timeout_s`.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return []
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 5.0
    while time.monotonic() < end and any(_alive(p) for p in killed):
        time.sleep(0.1)
    return killed


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process and all its descendants (JVM,
    Python daemon and workers) over one measured interval.

    On entry every process's high-water mark is reset (`clear_refs` 5) and
    a poller keeps the largest mark seen per pid.  The result sums the peaks
    of the processes still alive at the end: a short-lived child forked
    from the JVM (Spark's process-tree metrics run `pgrep`) reports the
    JVM's pages as its own until it execs, and would count them twice."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> set[int]:
        return descendants(os.getpid()) | {os.getpid()}

    def _sample(self) -> None:
        for pid in self._tree():
            kb = _hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def _poll(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakRss:
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # process already gone
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        alive = self._tree()
        self.peak_kb = {p: kb for p, kb in self.peak_kb.items() if p in alive}

    @property
    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def by_command(self) -> dict[str, float]:
        """Peak MB per command name (java, python3, ...), for the record."""
        out: dict[str, float] = {}
        for pid, kb in self.peak_kb.items():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            out[comm] = out.get(comm, 0.0) + kb / 1024.0
        return out
