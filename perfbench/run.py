"""The migration benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload daily_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The engine runs on ``local[nproc]`` with
``get_spark()``'s defaults; jobs run back to back on inputs generated from
``--seed`` (cached, never billed); every job's outputs are checked against
the generator's planted values. The last line of standard output is one
JSON object: ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see README.md). The exit code is 1 when
any job raised or failed its check.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import sys
import time
from statistics import median
from pathlib import Path

from harness import RssSampler, Tally, cpu_ticks, nproc, start_session, \
    steal_share, stop_descendants, tail_percentile
from tracing import (LAYER_METRICS, EngineCounters, JobView, NullTracer,
                     Tracer, layer_shares, traced_layers)

# ``inputs`` and ``workloads`` import numpy and pyarrow, which the engine
# does not: they are imported after the session starts, so set-up time
# holds only what a user of the engine pays
WORKLOAD_NAMES = ("daily_batch", "corpus_dedup")

# the end-to-end metrics of the result line, each with a bound in
# BENCHMARK.json. The others are printed only (README): the wall-time
# ones (first_job_s, job_p50_s, job_tail_s, rows_per_s) move with the
# load other guests put on a shared host by more than the largest bound
# allows, and so does peak_rss_mb with the heap the JVM commits;
# failed_ratio travels as the result's attempted/failed counts
BOUNDED = ("setup_s", "cpu_s_per_job", "stored_bytes_per_input_byte")

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"


def _configure_env() -> None:
    """Keep every file Spark and the JVM write inside the checkout, and size
    the engine to the machine (``local[nproc]``, shuffle width nproc)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _loop(wl, spark, tracer, seconds: float, tally, times: list[float],
          on_job=None, min_jobs: int = 2, cpus: list[float] | None = None,
          rss: RssSampler | None = None, first_id: int = 0) -> None:
    """Closed loop, one client: the next job starts when the previous one
    (and its untimed check) is done. Runs for ``seconds`` and at least
    ``min_jobs`` jobs, numbered from ``first_id``. Appends each correct
    job's wall time to ``times`` and, with a running ``rss`` sampler, its
    CPU time (this process and the JVM, without JIT compilation) to
    ``cpus``."""
    t_end = time.perf_counter() + seconds
    job_id = first_id
    while time.perf_counter() < t_end or job_id < first_id + min_jobs:
        wl.reset()
        # untimed: each job starts on a collected heap, so one job's
        # garbage does not land in the next one's time
        gc.collect()
        spark._jvm.System.gc()
        try:
            mark = rss.cpu_mark() if rss is not None else None
            t0 = time.perf_counter()
            with tracer.job(job_id):
                result = wl.job(spark, tracer)
            elapsed = time.perf_counter() - t0
            cpu = rss.cpu_since(mark) if rss is not None else 0.0
        except Exception as exc:  # a failed job counts; the loop goes on
            tally.record_exception(exc)
            job_id += 1
            continue
        errors = wl.check(result)
        tally.record(errors)
        if not errors:
            times.append(elapsed)
            if cpus is not None:
                cpus.append(cpu)
            if on_job is not None:
                on_job(job_id, result)
        job_id += 1


def _job_info(wl, result) -> dict:
    """What a traced job wrote, for the sink and delta layer metrics."""
    files, nbytes = wl.dest_files_bytes()
    counts = wl.delta_counts(result)
    changed = sum(v for k, v in counts.items() if k != "unchanged")
    return {"files_written": files, "bytes_written": nbytes,
            "rows_written": wl.rows_written(result),
            "changed_rows": changed,
            "compared_rows": sum(counts.values())}


def _fmt(x: float) -> str:
    return f"{x:.6g}"


def run(args) -> int:
    _configure_env()
    sys.path.insert(0, str(ROOT))
    # the engine must come from this checkout; without it the benchmark
    # fails here, before printing any result
    import data_warehouse_migrate_spark  # noqa: F401

    conf = {"spark.ui.enabled": "true"} if args.trace else None
    spark, get_spark_s, setup_main = start_session(conf)

    from inputs import ensure_inputs
    from workloads import WORKLOADS, Batch

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    wl = Batch(args.workload, [
        cls(ensure_inputs(WORK / "inputs", cls.name, args.seed, cls.size),
            run_dir)
        for cls in WORKLOADS[args.workload]])
    tally = Tally()
    tracer = Tracer(spark) if args.trace else NullTracer()
    try:
        with RssSampler() as rss:
            # the first job of a process pays JIT compilation and lazy
            # initialisation: reported on its own, not in the percentiles.
            # A traced run traces it, so that it also compiles every
            # probe's plan, and discards its spans
            first: list[float] = []
            with (traced_layers(tracer) if args.trace
                  else contextlib.nullcontext()):
                _loop(wl, spark, tracer, 0, tally, first, min_jobs=1)
            if args.trace:
                tracer.deferred.clear()  # counts nobody reads
            times: list[float] = []
            cpus: list[float] = []
            ticks = cpu_ticks()
            # a traced run also runs the traced loop: one warm job here
            # keeps it within the run's time limit on a slow host
            _loop(wl, spark, NullTracer(), args.seconds, tally, times,
                  min_jobs=1 if args.trace else 2, cpus=cpus, rss=rss,
                  first_id=1)
            steal = steal_share(ticks, cpu_ticks())
        stored = wl.dest_files_bytes()[1] / wl.source_bytes()

        traced_times: list[float] = []
        views, infos = [], []
        if args.trace:
            # the slower once-per-run checks ride on the traced run, which
            # the time budget can afford
            tally.fail_last(wl.run_errors(spark))
            counters = EngineCounters(spark)
            pending = []

            def on_job(job_id, result):
                counters.attribute(tracer.spans)
                pending.append((job_id, _job_info(wl, result)))

            # job ids go on from the untraced loop's, so the spans of the
            # traced first job never mix with these
            with traced_layers(tracer):
                _loop(wl, spark, tracer, args.seconds, tally, traced_times,
                      on_job=on_job, min_jobs=1, first_id=1 + len(times))
            # a second untraced job after the traced ones: warm-up still
            # speeds each job up a little, and untraced jobs on both sides
            # keep it out of the overhead
            _loop(wl, spark, NullTracer(), 0, tally, times, min_jobs=1,
                  first_id=1 + len(times) + len(traced_times))
            tracer.run_deferred()
            for job_id, info in pending:
                views.append(JobView(tracer.spans, job_id))
                infos.append(info)
            tracer.write(WORK / f"spans-{wl.name}-s{args.seed}.jsonl")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {wl.name}  seed {args.seed}  input {wl.size_unit}  "
          f"closed loop, 1 client, "
          f"local[{os.environ['SPARK_GRAFT_CPUS']}]; host CPU steal "
          f"{100 * steal:.1f}% during the warm jobs")
    for e in tally.errors[:20]:
        print(f"  CHECK FAILED: {e}")
    ok = (tally.failed == 0 and bool(first) and bool(times)
          and (bool(views) or not args.trace))
    if not ok:
        print(json.dumps({"correct": False, "attempted": tally.attempted,
                          "failed": tally.failed, "metrics": {}}))
        return 1

    if not args.trace:
        n = len(times)
        tail = tail_percentile(times)
        tail_p, tail_v = tail or (100.0, max(times))
        tail_note = (f"p{tail_p:.1f}, n={n}, 10 samples beyond" if tail
                     else f"p100 (max): n={n}, too few for 10 beyond")
        metrics = {
            "setup_s": (setup_main, "s",
                        "process start to get_spark() + first action"),
            "first_job_s": (first[0], "s", "first job of the process"),
            "job_p50_s": (median(times), "s",
                          f"n={n}: " + ", ".join(_fmt(t) for t in times)),
            "job_tail_s": (tail_v, "s", tail_note),
            "cpu_s_per_job": (median(cpus), "s",
                              "median CPU time of a warm job, this process "
                              "and the JVM without its JIT compiler: "
                              + ", ".join(_fmt(c) for c in cpus)),
            "rows_per_s": (wl.rows_per_job * n / sum(times), "rows/s",
                           f"{wl.rows_per_job} source rows per job"),
            "peak_rss_mb": (rss.peak / 1e6, "MB",
                            "Spark JVM + Python tree; printed only, see "
                            "README"),
            "stored_bytes_per_input_byte": (stored, "ratio", ""),
            "failed_ratio": (tally.failed_ratio, "fraction",
                             f"{tally.failed}/{tally.attempted} jobs"),
        }
        for name, (value, unit, note) in metrics.items():
            print(f"  {name:30s} {_fmt(value):>12s} {unit:8s} {note}")
        reported = {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                    for k in BOUNDED}
    else:
        reported = {}
        per_metric = {name: [fn(v, j) for v, j in zip(views, infos)]
                      for name, _, _, fn in LAYER_METRICS}
        print(f"  traced jobs {len(views)}; per-layer values are medians "
              f"over traced jobs")
        for name, unit, moves, _ in LAYER_METRICS:
            vals = per_metric[name]
            value = median(vals)
            reported[name] = {"value": value, "unit": unit}
            print(f"  {name:36s} {_fmt(value):>12s} {unit:6s} -> {moves}")
        untraced_p50 = median(times)
        traced_p50 = median(traced_times)
        run_level = {
            "session.get_spark_s": (get_spark_s, "s",
                                    "setup_s on every workload"),
            "trace.job_p50_s": (traced_p50, "s", "traced job time"),
            "memory.peak_rss_mb": (rss.peak / 1e6, "MB",
                                   "untraced jobs; peak_rss_mb"),
            "trace.overhead_s": (traced_p50 - untraced_p50, "s",
                                 f"traced p50 - untraced p50 "
                                 f"({_fmt(untraced_p50)} s, jobs before and "
                                 f"after the traced ones); both with the "
                                 f"UI on, so its cost is left out"),
        }
        for name, (value, unit, note) in run_level.items():
            reported[name] = {"value": value, "unit": unit}
            print(f"  {name:36s} {_fmt(value):>12s} {unit:6s} {note}")
        shares: dict[str, list[float]] = {}
        for v in views:
            for layer, t in layer_shares(v).items():
                shares.setdefault(layer, []).append(t)
        job_mean = (sum(s.duration for v in views for s in v.spans
                        if s.name == "job") / len(views)) if views else 0.0
        print(f"  self time per layer, mean per traced job "
              f"({_fmt(job_mean)} s):")
        for layer, ts in sorted(shares.items(), key=lambda kv: -sum(kv[1])):
            mean = sum(ts) / len(views)
            print(f"    {layer:18s} {_fmt(mean):>10s} s "
                  f"{100 * mean / job_mean:6.1f} %")
        print(f"    {'sum':18s} "
              f"{_fmt(sum(sum(ts) for ts in shares.values()) / len(views)):>10s}"
              f" s")

    print(json.dumps({"correct": True, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": reported}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOAD_NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped on every
    # path out of the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
