"""Measurement helpers: the tail percentile, the process-tree RSS sampler,
failure accounting and the timed session start."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float],
                    min_beyond: int = TAIL_MIN_BEYOND
                    ) -> tuple[float, float] | None:
    """(percentile, value): the highest nearest-rank percentile that still
    has at least ``min_beyond`` samples above its rank, or None when there
    are too few samples for any.

    With ``n`` sorted samples the value at 0-based rank ``k`` is the
    ``100*(k+1)/n``-th percentile and has ``n-1-k`` samples beyond it, so
    the answer is rank ``n-1-min_beyond``.
    """
    n = len(samples)
    k = n - 1 - min_beyond
    if k < 0:
        return None
    return 100.0 * (k + 1) / n, sorted(samples)[k]


@dataclass
class Tally:
    """Jobs attempted and failed; a job fails when it raises or when its
    correctness check reports any mismatch."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    def record_exception(self, exc: BaseException) -> None:
        self.record([f"{type(exc).__name__}: {exc}"])

    def fail_last(self, errors: list[str]) -> None:
        """A once-per-run check of the last job's output failed: that job
        counts as failed."""
        if errors and self.attempted > self.failed:
            self.failed += 1
        self.errors.extend(errors)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map(proc: str = "/proc") -> dict[int, int]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may contain spaces: fields restart after ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant (the Spark JVM and any Python
    workers it forks)."""
    parent = _ppid_map(proc)
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def rss_bytes(pids: list[int], proc: str = "/proc") -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"{proc}/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


# the JVM's JIT compiler threads (names as /proc cuts them to 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _comm_and_cpu(stat_path: str) -> tuple[str, int] | None:
    """(command name, utime + stime in clock ticks) from a ``stat`` file."""
    try:
        with open(stat_path) as f:
            stat = f.read()
    except OSError:
        return None  # exited
    fields = stat[stat.rindex(")") + 2:].split()
    return stat[stat.index("(") + 1:stat.rindex(")")], \
        int(fields[11]) + int(fields[12])


def jit_thread_ticks(root: int | None = None, proc: str = "/proc"
                     ) -> dict[tuple[int, int], int]:
    """CPU clock ticks used so far by each live JIT compiler thread of
    ``root`` (default: this process) and its descendants, by (pid, tid)."""
    out = {}
    for pid in process_tree(os.getpid() if root is None else root, proc):
        try:
            tids = os.listdir(f"{proc}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = _comm_and_cpu(f"{proc}/{pid}/task/{tid}/stat")
            if t is not None and t[0].startswith(JIT_THREADS):
                out[(pid, int(tid))] = t[1]
    return out


def cpu_snapshot(root: int | None = None, proc: str = "/proc"
                 ) -> tuple[int, dict[tuple[int, int], int]]:
    """CPU clock ticks used so far by ``root`` (default: this process) and
    its live descendants, and :func:`jit_thread_ticks`. A process's own
    total also holds its exited threads, so it is read whole and the
    compiler threads are taken out in :func:`job_cpu_seconds`."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in process_tree(root, proc):
        got = _comm_and_cpu(f"{proc}/{pid}/stat")
        if got is not None:
            total += got[1]
    return total, jit_thread_ticks(root, proc)


def job_cpu_seconds(before, after, seen=None) -> float:
    """User + system CPU seconds between two :func:`cpu_snapshot` readings,
    without the JIT compiler threads: compilation is warm-up, and how much
    of it lands in a given job varies from run to run. The JVM starts and
    ends compiler threads as its queue grows and drains; ``seen`` holds the
    last reading of those that ended between the snapshots. Time the
    hypervisor gave to other guests is not CPU time, so this moves less
    with host load than wall time does."""
    ends = {**(seen or {}), **after[1]}
    jit = sum(t - before[1].get(k, 0) for k, t in ends.items())
    return (after[0] - before[0] - jit) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of a process tree, sampled by one background
    thread. Use as a context manager around the measured region.

    Each sample also keeps the last reading of every JIT compiler thread,
    so that :meth:`cpu_since` can take out the compilation of threads that
    ended during a job. A sample reads ``/proc`` for every process and
    thread (a few ms of CPU); that falls inside the jobs' CPU time, so the
    default interval keeps it near 1% of a core."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.jit_seen: dict[tuple[int, int], int] = {}

    def sample(self) -> None:
        self.peak = max(self.peak, rss_bytes(process_tree(self.root)))
        self.jit_seen.update(jit_thread_ticks(self.root))
        self.samples += 1

    def cpu_mark(self):
        """A :func:`cpu_snapshot` that starts a job's CPU count."""
        self.jit_seen = {}
        return cpu_snapshot(self.root)

    def cpu_since(self, mark) -> float:
        """CPU seconds since ``mark``, without JIT compilation
        (:func:`job_cpu_seconds`)."""
        return job_cpu_seconds(mark, cpu_snapshot(self.root), self.jit_seen)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks()`` readings
    that the hypervisor gave to other guests: a slow run on a shared host
    shows here, not in the program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def seconds_since_process_start() -> float:
    """Wall time since this process was created, from /proc/self/stat's
    start tick (10 ms resolution) against CLOCK_BOOTTIME, so interpreter
    start-up and imports are counted."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_descendants(timeout: float = 30.0) -> None:
    """Stop every process this one started (the Spark JVM and any Python
    workers it forked) and wait until each has ended.

    The JVM is asked first, by stopping the session and closing the
    gateway's stdin, as pyspark does at exit; what is still alive after
    ``timeout`` seconds is killed."""
    import signal
    import subprocess

    me = os.getpid()
    pids = [p for p in process_tree(me) if p != me]
    gateway = None
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        gateway = SparkContext._gateway
    except Exception:  # no session, or it failed half-way: kill below
        pass
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            pass
    pids += [p for p in process_tree(me) if p != me and p not in pids]
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + timeout
    while True:
        for pid in pids:  # reap our own children; others go to init
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if not any(_alive(p) for p in pids) or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def start_session(extra_conf: dict[str, str] | None = None):
    """The engine's session on ``local[nproc]`` plus one trivial action —
    the set-up every job of a process pays once. Returns
    (spark, seconds the get_spark call took, seconds since process start)."""
    from data_warehouse_migrate_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc()}]",
                      extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1).collect()
    return spark, t1 - t0, seconds_since_process_start()
