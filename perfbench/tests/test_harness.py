import os
import shutil
import time

import pytest

from harness import (
    RssSampler,
    Tally,
    process_tree,
    rss_bytes,
    seconds_since_process_start,
    tail_percentile,
)


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    p, v = tail_percentile([float(i) for i in range(11)])
    assert (p, v) == (pytest.approx(100 / 11), 0.0)


@pytest.mark.parametrize("n", [11, 20, 40, 137])
def test_tail_is_highest_rank_with_ten_beyond(n):
    samples = [float((i * 7919) % n) for i in range(n)]  # a permutation
    p, v = tail_percentile(samples)
    assert sum(1 for s in samples if s > v) == 10
    assert p == pytest.approx(100 * (n - 10) / n)
    # one rank higher would leave only nine samples beyond
    higher = sorted(samples)[n - 10]
    assert sum(1 for s in samples if s > higher) == 9


def test_tally_counts_checks_and_raised_jobs():
    t = Tally()
    t.record([])
    t.record(["rows 3 != 4"])
    t.record_exception(RuntimeError("executor lost"))
    t.record([])
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5
    assert t.errors == ["rows 3 != 4", "RuntimeError: executor lost"]
    assert Tally().failed_ratio == 0.0


def test_a_failed_run_check_fails_the_last_job_once():
    t = Tally()
    t.record([])
    t.fail_last([])
    assert (t.attempted, t.failed) == (1, 0)
    t.fail_last(["pair below threshold"])
    t.fail_last(["another"])  # no more jobs left to fail
    assert (t.attempted, t.failed) == (1, 1)
    assert t.errors == ["pair below threshold", "another"]


def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, resident pages)"""
    for pid, (ppid, comm, pages) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "statm").write_text(f"1000 {pages} 10 1 0 50 0\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_process_tree_and_rss_from_proc(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, "python3", 100),
        11: (10, "java main) S 99", 1000),  # ')' and spaces in comm
        12: (11, "python3 -m daemon", 10),
        13: (1, "unrelated", 5000),
    })
    tree = process_tree(10, proc=str(tmp_path))
    assert sorted(tree) == [10, 11, 12]
    page = os.sysconf("SC_PAGE_SIZE")
    assert rss_bytes(tree, proc=str(tmp_path)) == 1110 * page
    # a process that exited between listing and reading is skipped
    assert rss_bytes([10, 999], proc=str(tmp_path)) == 100 * page


def test_rss_sampler_tracks_this_process():
    with RssSampler(interval=0.01) as s:
        block = bytearray(64 * 1024 * 1024)
        block[::4096] = b"x" * len(block[::4096])  # touch every page
        time.sleep(0.1)
    assert s.samples >= 3
    assert s.peak >= 64 * 1024 * 1024
    assert not s._thread.is_alive()
    del block


def test_process_start_is_in_the_past():
    age = seconds_since_process_start()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    assert 0 < age < uptime + 1


def test_run_lists_every_workload_and_metric_of_the_benchmark():
    import json
    from pathlib import Path

    import run
    from tracing import LAYER_METRICS
    from workloads import WORKLOADS

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert sorted(run.WORKLOAD_NAMES) == sorted(WORKLOADS) == sorted(
        w["name"] for w in spec["workloads"])
    assert [m["name"] for m in spec["end_to_end"]] == list(run.BOUNDED)
    layer = {m["name"] for m in spec["per_layer"]}
    assert {name for name, *_ in LAYER_METRICS} <= layer


def test_steal_share_is_the_stolen_part_of_all_ticks():
    from harness import cpu_ticks, steal_share

    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [400, 0, 100, 1000, 0, 0, 0, 150]
    assert steal_share(before, after) == pytest.approx(100 / 650)
    assert steal_share(before, before) == 0.0
    assert len(cpu_ticks()) == 8


def test_stop_descendants_ends_every_child():
    import subprocess

    from harness import _alive, stop_descendants

    # a child that ignores SIGTERM, and a grandchild it started
    child = subprocess.Popen(
        ["sh", "-c", "trap '' TERM; sleep 60 & sleep 60"])
    deadline = time.monotonic() + 5
    while len(process_tree(child.pid)) < 3 and time.monotonic() < deadline:
        time.sleep(0.02)
    pids = process_tree(child.pid)
    assert len(pids) == 3
    stop_descendants(timeout=5)
    assert not any(_alive(p) for p in pids)
    assert child.poll() is not None


def test_job_cpu_counts_this_process():
    from harness import cpu_snapshot, job_cpu_seconds

    before = cpu_snapshot()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert job_cpu_seconds(before, cpu_snapshot()) >= 0.2


def _fake_stat(path, pid, comm, ppid, ticks):
    path.mkdir(parents=True, exist_ok=True)
    (path / "stat").write_text(
        f"{pid} ({comm}) S {ppid} 0 0 0 0 0 0 0 0 0 {ticks} 0 0 0\n")


def test_job_cpu_leaves_out_jit_compiler_threads(tmp_path):
    from harness import cpu_snapshot, job_cpu_seconds

    tck = os.sysconf("SC_CLK_TCK")

    def snapshot(main, jvm, c2, c1=None):
        _fake_stat(tmp_path / "10", 10, "python3", 1, main)
        _fake_stat(tmp_path / "10" / "task" / "10", 10, "python3", 1, main)
        _fake_stat(tmp_path / "11", 11, "java", 10, jvm + c2 + (c1 or 0))
        _fake_stat(tmp_path / "11" / "task" / "12", 12, "C2 CompilerThre",
                   10, c2)
        if c1 is not None:
            _fake_stat(tmp_path / "11" / "task" / "13", 13,
                       "C1 CompilerThre", 10, c1)
        return cpu_snapshot(10, proc=str(tmp_path))

    before = snapshot(main=100, jvm=1000, c2=500)
    # one second in Python, two in the JVM's other threads; five in C2 and
    # three in a C1 thread started during the job, which counts from zero
    after = snapshot(main=100 + tck, jvm=1000 + 2 * tck, c2=500 + 5 * tck,
                     c1=3 * tck)
    assert job_cpu_seconds(before, after) == pytest.approx(3.0)

    # during the next job the C2 thread compiles for two more seconds, is
    # last seen by the sampler and ends; the JVM keeps its CPU in its own
    # total. One more second runs in the JVM's other threads.
    shutil.rmtree(tmp_path / "11" / "task" / "12")
    _fake_stat(tmp_path / "11", 11, "java", 10,
               (1000 + 3 * tck) + (500 + 7 * tck) + 3 * tck)
    ended = cpu_snapshot(10, proc=str(tmp_path))
    assert (11, 12) not in ended[1]
    assert job_cpu_seconds(after, ended) == pytest.approx(3.0)
    seen = {(11, 12): 500 + 7 * tck}
    assert job_cpu_seconds(after, ended, seen) == pytest.approx(1.0)
