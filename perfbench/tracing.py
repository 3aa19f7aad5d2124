"""The traced run: spans recorded from outside the engine, around each call
into a layer's public function.

A :class:`Tracer` keeps spans (name, start, end, parent, job id) in memory
and writes them out when the run ends. :func:`traced_layers` wraps the
layer functions where their callers look them up (``migrate.read_table``,
``sinks.write_sized`` ...) for the duration of a ``with`` block, so the
engine's code is unchanged.

Most layer functions only build a lazy plan. To time the work a layer
adds, the wrapper forces the plan prefix that ends at that layer through
Spark's ``noop`` sink — never ``count()``, which lets the optimiser prune
every column the count does not need, computed columns included. These
"probe" spans are tracing overhead: they run work the job itself does not,
and the report counts them apart.

Engine counters come from Spark's status store over the UI REST endpoint:
every span tags the Spark jobs it submits with its own job group, so each
Spark job (its tasks, input and shuffle bytes) is attributed to exactly
one span.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field, replace

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_id: int | None = None
    probe: bool = False
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def job(self, job_id: int):
        return contextlib.nullcontext()


class Tracer:
    """In-memory spans with parent links. ``spark`` enables job-group
    tagging, so engine counters can be attributed to spans."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._probed: set[tuple[int | None, str]] = set()
        self.job_id: int | None = None
        # counts that need a pass of their own, run after the traced jobs
        # so that nothing they cache is read by a timed job
        self.deferred: list = []

    def _tag(self, idx: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id",
                None if idx is None else f"{GROUP_PREFIX}{idx}")

    @contextlib.contextmanager
    def span(self, name: str, probe: bool = False):
        idx = len(self.spans)
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 job_id=self.job_id, probe=probe)
        self.spans.append(s)
        self._stack.append(idx)
        self._tag(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def job(self, job_id: int):
        """The root span of one benchmark job."""
        self.job_id = job_id
        try:
            with self.span("job") as s:
                yield s
        finally:
            self.job_id = None

    def first_in_job(self, key: str) -> bool:
        """True on the first call per job for ``key``: a layer's prefix is
        forced once per job, at its first (the migration's) build."""
        k = (self.job_id, key)
        if k in self._probed:
            return False
        self._probed.add(k)
        return True

    def probe(self, name: str, df) -> None:
        """Execute ``df`` through the noop sink inside a probe span,
        counting its rows with an Observation on the same pass."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self.span(name, probe=True) as s:
            obs = Observation()
            (df.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            s.attrs["rows"] = int(obs.get["n"])

    def run_deferred(self) -> None:
        """Run the passes queued by the layer wrappers (untimed; call it
        after the wrappers are removed)."""
        for fn in self.deferred:
            fn()
        self.deferred.clear()

    def write(self, path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------

def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children of one span may overlap; their union is
    subtracted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.duration - covered)
    return out


# ---------------------------------------------------------------------------
# layer wrappers
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class LayerHook:
    """One public layer function, wrapped where its caller looks it up.

    ``probe_in``/``probe_out`` name the probe span that forces the plan
    prefix entering/leaving the call; ``every_call`` probes each call
    instead of the first per job.
    """

    module: str
    attr: str
    span: str
    probe_in: str | None = None
    probe_out: str | None = None
    every_call: bool = False


_M = "data_warehouse_migrate_spark."
HOOKS = (
    LayerHook(_M + "migrate", "read_table", "readers.read_table"),
    LayerHook(_M + "migrate", "latest_partition_filter",
              "readers.latest_partition"),
    LayerHook(_M + "migrate", "apply_source_schema",
              "casts.apply_source_schema",
              probe_in="readers.scan", probe_out="casts.exec"),
    LayerHook(_M + "migrate", "apply_mapping", "mapping.apply_mapping",
              probe_out="mapping.exec"),
    LayerHook(_M + "migrate", "project_to_destination",
              "mapping.project_to_destination"),
    LayerHook(_M + "migrate", "apply_defaults_backfill",
              "constraints.apply_defaults_backfill",
              probe_out="constraints.backfill_exec"),
    LayerHook(_M + "migrate", "apply_null_policy", "constraints.null_policy"),
    LayerHook(_M + "migrate", "write_table", "sinks.write_table"),
    LayerHook(_M + "sources.sinks", "write_table", "sinks.write_table"),
    LayerHook(_M + "sources.sinks", "write_sized", "sinks.write_sized"),
    LayerHook(_M + "functions.sizing", "count_and_row_bytes",
              "sizing.count_and_row_bytes"),
    LayerHook(_M + "operators.validate", "group_checksum",
              "validate.group_checksum", probe_out="validate.exec",
              every_call=True),
    LayerHook(_M + "operators.delta", "snapshot_delta",
              "delta.snapshot_delta", probe_out="delta.snapshot_exec"),
    LayerHook(_M + "operators.delta", "apply_delta", "delta.apply_delta",
              probe_out="delta.apply_exec"),
    LayerHook(_M + "sources.readers", "read_table", "readers.read_table"),
    LayerHook(_M + "operators.pipeline", "clean_corpus",
              "pipeline.clean_corpus",
              probe_in="readers.scan", probe_out="pipeline.exec"),
    LayerHook(_M + "operators.dedup", "minhash_signatures",
              "text.minhash_signatures", probe_out="text.exec"),
    LayerHook(_M + "operators.dedup", "minhash_lsh_pairs",
              "dedup.minhash_lsh_pairs", probe_out="dedup.lsh_exec"),
    LayerHook(_M + "operators.dedup", "near_dup_removal",
              "dedup.near_dup_removal", probe_out="dedup.removal_exec"),
)


def _rows_needing_default(df, dest_schema) -> int:
    """Rows with a NULL in a non-nullable column that declares a default:
    the rows ``apply_defaults_backfill`` fills."""
    from pyspark.sql import functions as F

    low = {c.lower(): c for c in df.columns}
    cols = [low[c["name"].lower()] for c in dest_schema
            if not c.get("is_nullable", True) and c.get("default") is not None
            and c["name"].lower() in low]
    if not cols:
        return 0
    cond = F.col(cols[0]).isNull()
    for c in cols[1:]:
        cond = cond | F.col(c).isNull()
    return df.filter(cond).count()


def _wrap(tracer: Tracer, hook: LayerHook, fn):
    def should(probe):
        return probe and (hook.every_call or tracer.first_in_job(probe))

    def wrapper(*args, **kwargs):
        if should(hook.probe_in):
            tracer.probe(hook.probe_in, args[0])
        if hook.attr == "apply_defaults_backfill" and should(
                "constraints.rows_filled"):
            with tracer.span("constraints.rows_filled", probe=True) as s:
                s.attrs["rows"] = _rows_needing_default(args[0], args[1])
        with tracer.span(hook.span) as span:
            out = fn(*args, **kwargs)
        if should(hook.probe_out):
            tracer.probe(hook.probe_out, out)
        if hook.attr == "minhash_lsh_pairs" and should(
                "dedup.candidate_pairs"):
            # the operator counts its candidates only on its diag path,
            # which persists them; a second call inside the job would let
            # the job's own pairs read that cache, so it runs afterwards
            tracer.deferred.append(
                lambda: _count_candidates(fn, args, kwargs, span))
        return out

    return wrapper


def _count_candidates(fn, args, kwargs, span: Span) -> None:
    diag: dict = {}
    fn(*args, **{**kwargs, "diag": diag})
    span.attrs["candidate_pairs"] = diag["candidate_pairs"]
    args[0].sparkSession.catalog.clearCache()


@contextlib.contextmanager
def traced_layers(tracer: Tracer, hooks=HOOKS):
    """Install the wrappers for the ``with`` block; always restores the
    original functions."""
    saved = []
    try:
        for hook in hooks:
            mod = importlib.import_module(hook.module)
            fn = getattr(mod, hook.attr)
            saved.append((mod, hook.attr, fn))
            setattr(mod, hook.attr, _wrap(tracer, hook, fn))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# engine counters from the status store
# ---------------------------------------------------------------------------

class EngineCounters:
    """Attributes completed Spark jobs to spans by their job group, reading
    the UI REST endpoint (needs ``spark.ui.enabled=true``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = (f"{sc.uiWebUrl}/api/v1/applications/"
                      f"{sc.applicationId}")
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def attribute(self, spans: list[Span]) -> None:
        """Add counters of jobs completed since the last call to the spans
        that submitted them."""
        try:  # drain the listener bus so the store has every finished job
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private API; fall back to a short wait
            time.sleep(0.3)
        jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        stages = {}
        for st in self._get("/stages"):
            if st.get("status") == "COMPLETE":
                stages.setdefault(st["stageId"], st)
        for j in jobs:
            group = j.get("jobGroup") or ""
            if j["jobId"] in self._seen_jobs or j.get("status") == "RUNNING":
                continue
            self._seen_jobs.add(j["jobId"])
            if not group.startswith(GROUP_PREFIX):
                continue
            c = spans[int(group[len(GROUP_PREFIX):])].counters
            c["jobs"] = c.get("jobs", 0) + 1
            c["tasks"] = c.get("tasks", 0) + j.get("numCompletedTasks", 0)
            for sid in j.get("stageIds", ()):
                st = stages.get(sid)
                if st is None or (sid, st["attemptId"]) in self._seen_stages:
                    continue
                self._seen_stages.add((sid, st["attemptId"]))
                for key, src in (("shuffle_write_bytes", "shuffleWriteBytes"),
                                 ("input_bytes", "inputBytes"),
                                 ("input_records", "inputRecords")):
                    c[key] = c.get(key, 0) + st.get(src, 0)


# ---------------------------------------------------------------------------
# per-job layer metrics
# ---------------------------------------------------------------------------

class JobView:
    """One traced job's spans (parent links re-indexed to this job), with
    the sums the layer metrics are made of."""

    def __init__(self, spans: list[Span], job_id: int):
        picked = [(i, s) for i, s in enumerate(spans) if s.job_id == job_id]
        local = {g: n for n, (g, _) in enumerate(picked)}
        self.spans = [replace(s, parent=local.get(s.parent))
                      for _, s in picked]
        self.selfs = self_times(self.spans)
        # spans a probe opened are tracing overhead, not the layer's time
        self.under_probe = [any(a.probe for a in self._ancestors(s))
                            for s in self.spans]

    def _layer_spans(self, name: str):
        return (s for s, u in zip(self.spans, self.under_probe)
                if s.name == name and not u)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self._layer_spans(name))

    def marginal(self, name: str, prefix: str) -> float:
        """Execution time a layer adds: its forced prefix minus the forced
        prefix that ends one layer earlier (0 when the layer did not run).
        A difference below the probes' run-to-run noise can come out
        negative; it reads 0, as no layer takes negative time."""
        if not any(s.name == name for s in self.spans):
            return 0.0
        return max(0.0, self.total(name) - self.total(prefix))

    def self_time(self, name: str) -> float:
        return sum(t for s, t, u in zip(self.spans, self.selfs,
                                        self.under_probe)
                   if s.name == name and not u)

    def attr(self, name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in self.spans if s.name == name)

    def _ancestors(self, s: Span):
        while s.parent is not None:
            s = self.spans[s.parent]
            yield s

    def engine_counter(self, key: str, under: tuple[str, ...] = ()) -> int:
        """A counter summed over the job's non-probe spans, or only over
        those inside a span named in ``under``."""
        return sum(s.counters.get(key, 0) for s in self.spans
                   if not s.probe and (not under or any(
                       a.name in under
                       for a in (s, *self._ancestors(s)))))

    def readback_count_s(self) -> float:
        """Time ``MigrationJob.run`` spends after its sink returned: the
        post-write destination count."""
        out = 0.0
        for run in (s for s in self.spans if s.name == "migrate.run"):
            ends = [s.end for s in self.spans if s.name.startswith("sinks.")
                    and any(a is run for a in self._ancestors(s))]
            if ends:
                out += run.end - max(ends)
        return out


# ---------------------------------------------------------------------------
# the per-layer metric table: name, unit, the end-to-end metric and workload
# it should move, and how it is computed from one traced job
# ---------------------------------------------------------------------------

def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


LAYER_METRICS = (
    ("readers.read_table_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("readers.read_table")),
    ("readers.latest_partition_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("readers.latest_partition")),
    ("readers.scan_s", "s",
     "job_p50_s on daily_batch",
     lambda v, j: v.total("readers.scan")),
    ("readers.input_rows", "count", "job_p50_s on daily_batch",
     lambda v, j: v.engine_counter("input_records")),
    ("readers.input_bytes", "bytes", "job_p50_s on daily_batch",
     lambda v, j: v.engine_counter("input_bytes")),
    ("readers.rows_read_per_row_written", "ratio",
     "job_p50_s on daily_batch",
     lambda v, j: _ratio(v.engine_counter("input_records"),
                         j["rows_written"])),
    ("casts.apply_source_schema_s", "s",
     "job_p50_s, rows_per_s on daily_batch",
     lambda v, j: v.total("casts.apply_source_schema")),
    ("casts.exec_s", "s",
     "job_p50_s, rows_per_s on daily_batch",
     lambda v, j: v.marginal("casts.exec", "readers.scan")),
    ("mapping.apply_mapping_s", "s", "job_p50_s, rows_per_s on daily_batch",
     lambda v, j: v.total("mapping.apply_mapping")),
    ("mapping.exec_s", "s", "job_p50_s, rows_per_s on daily_batch",
     lambda v, j: v.marginal("mapping.exec", "casts.exec")),
    ("constraints.null_policy_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("constraints.null_policy")),
    ("constraints.backfill_exec_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.marginal("constraints.backfill_exec", "mapping.exec")),
    ("constraints.rows_filled", "count", "job_p50_s on daily_batch",
     lambda v, j: v.attr("constraints.rows_filled", "rows")),
    ("sizing.count_and_row_bytes_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("sizing.count_and_row_bytes")),
    ("sinks.write_s", "s",
     "job_p50_s, stored_bytes_per_input_byte on daily_batch",
     lambda v, j: (v.self_time("sinks.write_table")
                   + v.self_time("sinks.write_sized"))),
    ("sinks.files_written", "count",
     "stored_bytes_per_input_byte on daily_batch",
     lambda v, j: j["files_written"]),
    ("sinks.bytes_written", "bytes",
     "stored_bytes_per_input_byte on daily_batch",
     lambda v, j: j["bytes_written"]),
    ("migrate.readback_count_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.readback_count_s()),
    ("migrate.verify_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("migrate.verify")),
    ("migrate.spark_jobs_per_run", "count", "job_p50_s on daily_batch",
     lambda v, j: v.engine_counter(
         "jobs", under=("migrate.run", "migrate.run_incremental"))),
    ("validate.group_checksum_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("validate.group_checksum")
     + v.total("validate.exec")),
    ("delta.snapshot_delta_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("delta.snapshot_delta")
     + v.total("delta.snapshot_exec")),
    ("delta.apply_delta_s", "s", "job_p50_s on daily_batch",
     lambda v, j: v.total("delta.apply_delta")
     + v.total("delta.apply_exec")),
    ("delta.changed_rows", "count", "job_p50_s on daily_batch",
     lambda v, j: j["changed_rows"]),
    ("delta.changed_ratio", "ratio", "job_p50_s on daily_batch",
     lambda v, j: _ratio(j["changed_rows"], j["compared_rows"])),
    ("pipeline.clean_corpus_s", "s", "job_p50_s, peak_rss_mb on corpus_dedup",
     lambda v, j: v.total("pipeline.clean_corpus")
     + v.marginal("pipeline.exec", "readers.scan")),
    ("text.minhash_signatures_s", "s",
     "job_p50_s, peak_rss_mb on corpus_dedup",
     lambda v, j: v.total("text.minhash_signatures")
     + v.marginal("text.exec", "pipeline.exec")),
    ("dedup.minhash_lsh_pairs_s", "s",
     "job_p50_s, peak_rss_mb on corpus_dedup",
     lambda v, j: v.total("dedup.minhash_lsh_pairs")
     + v.total("dedup.lsh_exec")),
    ("dedup.candidate_pairs", "count", "job_p50_s on corpus_dedup",
     lambda v, j: v.attr("dedup.minhash_lsh_pairs", "candidate_pairs")),
    ("dedup.verified_per_candidate", "ratio", "job_p50_s on corpus_dedup",
     lambda v, j: _ratio(v.attr("dedup.lsh_exec", "rows"),
                         v.attr("dedup.minhash_lsh_pairs",
                                "candidate_pairs"))),
    ("dedup.near_dup_removal_s", "s", "job_p50_s, peak_rss_mb on corpus_dedup",
     lambda v, j: v.total("dedup.near_dup_removal")
     + v.total("dedup.removal_exec")),
    ("spark.jobs", "count", "job_p50_s on every workload",
     lambda v, j: v.engine_counter("jobs")),
    ("spark.tasks", "count", "job_p50_s on every workload",
     lambda v, j: v.engine_counter("tasks")),
    ("spark.shuffle_write_bytes", "bytes",
     "job_p50_s on daily_batch, corpus_dedup",
     lambda v, j: v.engine_counter("shuffle_write_bytes")),
)


def layer_shares(view: JobView) -> dict[str, float]:
    """Self seconds per layer (the name before the dot) for one job; probe
    spans are grouped as ``trace-probes`` and the job root's own time as
    ``bench-loop``. The values add up to the job's duration."""
    out: dict[str, float] = {}
    for s, t, u in zip(view.spans, view.selfs, view.under_probe):
        key = ("trace-probes" if s.probe or u else "bench-loop"
               if s.name == "job" else s.name.split(".")[0])
        out[key] = out.get(key, 0.0) + t
    return out
