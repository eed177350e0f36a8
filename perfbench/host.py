"""Host facts the benchmark derives its settings from: core count,
a busy-loop calibration, and Python-worker RSS sampled from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

CALIB_SECONDS = 0.3
RSS_POLL_S = 0.05


def cpus() -> int:
    """Cores the job may use: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on (what ``nproc`` prints)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return len(os.sched_getaffinity(0))


def calib_iters_per_s() -> float:
    """One-process busy-loop rate: a low value flags a contended run."""
    n = 0
    t0 = time.perf_counter()
    end = t0 + CALIB_SECONDS
    while True:
        for _ in range(1000):
            n += 1
        if time.perf_counter() >= end:
            break
    return n / (time.perf_counter() - t0)


def _parent_pids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the field after the parenthesised command name is the state, then ppid
        out[int(name)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            args = fh.read().split(b"\0")
    except OSError:
        return False
    return b"pyspark.daemon" in args or b"pyspark.worker" in args


def python_worker_pids(jvm_pid: int) -> list[int]:
    """PySpark's worker daemon (a child of the JVM) and the workers it
    forks. The command line is checked because the JVM also forks short
    shell commands, which carry the JVM's RSS until they exec."""
    parents = _parent_pids()
    daemons = {p for p, pp in parents.items() if pp == jvm_pid and _is_python_worker(p)}
    return [p for p, pp in parents.items() if (p in daemons or pp in daemons) and _is_python_worker(p)]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Peak RSS of the largest Python worker of the Spark JVM ``jvm_pid``,
    polled on a thread while the ``with`` block runs."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            for pid in python_worker_pids(self.jvm_pid):
                self.peak_kb = max(self.peak_kb, _rss_kb(pid))
            self._stop.wait(RSS_POLL_S)

    def __enter__(self) -> WorkerRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0
