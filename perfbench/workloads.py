"""The benchmark workloads: job definitions driven through the engine's
public API, plus the correctness checks against planted values.

A benchmark workload (``WORKLOADS``) is a :class:`Batch` of one or more
parts. Each part has three methods the loop in ``run.py`` calls through
its batch:

* ``reset()``  — untimed preparation before a job (restoring the
  incremental destination, for instance);
* ``job(spark)`` — the timed part: exactly what a user of the engine runs;
* ``check(result)`` — untimed: returns the list of mismatches between the
  job's outputs and the generator's planted values (empty when correct);
  ``run_errors(spark)`` does the same once per traced run.

The layer calls inside a job go through module attributes
(``readers.read_table``, ``dedup.minhash_lsh_pairs`` ...) so that the
traced run can wrap them from outside.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import (
    NULL_TOKENS,
    SYNC_SCHEMA,
    WIDE_SCHEMA,
    Inputs,
    dir_bytes,
)

# ---------------------------------------------------------------------------
# the latest-partition migration's job configuration (the reference's
# per-table config, written out)
# ---------------------------------------------------------------------------

MAPPING = {
    "exclude": ["region", "scratch"],
    "rename": {"category": "cat", "qty": "quantity"},
    "computed": {
        "sku": "concat(cat, '-', size)",
        "cat_u": "upper(cat)",
        "code2": "substr(status_code, 0, 2)",
        "label": "format('{id:08d}/{cat}')",
    },
    "defaults": {"note": "n/a"},
    "order": ["id", "sku", "label", "quantity", "price"],
}

# the introspected destination catalog: projection order, nullability and
# typed defaults (MySQL-shaped, as ``readers.introspect_jdbc_schema`` returns)
DEST_SCHEMA = (
    [{"name": "id", "type": "bigint", "is_nullable": False, "default": None},
     {"name": "sku", "type": "varchar(64)", "is_nullable": False,
      "default": None},
     {"name": "label", "type": "varchar(64)", "is_nullable": True,
      "default": None},
     {"name": "quantity", "type": "bigint", "is_nullable": False,
      "default": "0"},
     {"name": "price", "type": "double", "is_nullable": True,
      "default": None},
     {"name": "active", "type": "tinyint(1)", "is_nullable": False,
      "default": "b'0'"}]
    + [{"name": c, "type": "varchar(32)", "is_nullable": True,
        "default": None}
       for c in ("status_code", "code2", "note", "cat", "cat_u", "size")]
    + [{"name": "created", "type": "date", "is_nullable": True,
        "default": None}]
    + [{"name": f"m{i}", "type": "double", "is_nullable": True,
        "default": None} for i in range(8)])

NON_NULLABLE = ["id", "quantity", "sku", "active"]


def _specs(schema):
    from data_warehouse_migrate_spark.schema import ColumnSpec

    return [ColumnSpec(name, typ) for name, typ in schema]


def _wide_output_errors(table, planted: dict) -> list[str]:
    """Compare a migrated wide table against what its source planted."""
    errors = []

    def expect(what, got, want):
        if got != want:
            errors.append(f"{what}: got {got}, planted {want}")

    expect("rows", table.num_rows, planted["rows"])
    expect("columns", table.column_names,
           [c["name"] for c in DEST_SCHEMA])
    if errors:
        return errors
    q = table.column("quantity")
    expect("quantity==0 (filled default + planted zeros)",
           pc.sum(pc.equal(q, 0)).as_py() or 0,
           planted["qty_null"] + planted["qty_zero"])
    expect("price NULL (inf/-inf/nan tokens)",
           table.column("price").null_count, planted["price_null"])
    a = table.column("active")
    expect("active true tokens", pc.sum(a).as_py() or 0,
           planted["active_true"])
    expect("active false tokens + filled", pc.sum(pc.invert(a)).as_py() or 0,
           planted["active_false_or_filled"])
    note = table.column("note")
    expect("note mapping default", pc.sum(pc.equal(note, "n/a")).as_py() or 0,
           planted["note_null"])
    expect("note null tokens kept",
           pc.sum(pc.is_in(note, value_set=pc.cast(
               list(NULL_TOKENS), "string"))).as_py() or 0,
           planted["note_token"])
    sku = table.column("sku").slice(0, 1)[0].as_py()
    cat = table.column("cat").slice(0, 1)[0].as_py()
    size = table.column("size").slice(0, 1)[0].as_py()
    expect("computed sku", sku, f"{cat}-{size}")
    return errors


class Workload:
    """Base: paths under this run's work directory, byte accounting."""

    name = ""
    size = 0          # the generator's size argument
    size_unit = ""

    def __init__(self, inputs: Inputs, work: Path):
        self.inputs = inputs
        self.planted = inputs.planted
        self.dest = str(work / f"dest-{self.name}")

    def reset(self) -> None:
        pass

    @property
    def rows_per_job(self) -> int:
        raise NotImplementedError

    def source_bytes(self) -> int:
        return dir_bytes(self.inputs.source)[1]

    def dest_files_bytes(self) -> tuple[int, int]:
        return dir_bytes(self.dest)

    def rows_written(self, result) -> int:
        return result["run"]["rows_written"]

    def run_errors(self, spark) -> list[str]:
        """Checks made once per traced run, after the jobs (untimed)."""
        return []


class LatestPartition(Workload):
    """The daily pt= migration with the full job config, verified: listing
    and the MAX(dt) probe over every partition, then casts, mapping,
    constraints, the sized sink and verify on the newest one."""

    name = "latest_partition"
    # one batch of the reference migrator's 10,000-row scan loop per daily
    # partition
    size = 10_000
    size_unit = "rows in each of 48 dt= partitions"

    @property
    def rows_per_job(self) -> int:
        return self.planted["latest_rows"]

    def job(self, spark, tracer):
        from data_warehouse_migrate_spark.migrate import MigrationJob

        mj = MigrationJob(
            source_path=self.inputs.source, destination_path=self.dest,
            mode="overwrite", source_schema=_specs(WIDE_SCHEMA),
            mapping=MAPPING, dest_schema=DEST_SCHEMA,
            non_nullable=NON_NULLABLE, null_policy="fail",
            partition_columns=["dt"], target_file_mb=1)
        with tracer.span("migrate.run"):
            out = mj.run(spark)
        with tracer.span("migrate.verify"):
            ver = mj.verify(spark)
        return {"run": out, "verify": ver}

    def check(self, result) -> list[str]:
        want = self.planted["latest_rows"]
        errors = []
        if result["verify"].get("verified") is not True:
            errors.append(f"verify() returned {result['verify']}")
        for key in ("rows_written", "destination_rows"):
            if result["run"][key] != want:
                errors.append(f"{key} {result['run'][key]} != {want} "
                              f"(latest partition rows)")
        return errors + _wide_output_errors(pq.read_table(self.dest),
                                            self.planted["latest"])


class IncrementalSync(Workload):
    """Delta sync: reads both sides, shuffle-joins them on the key and
    rewrites a checkpointed snapshot."""

    name = "incremental_sync"
    # ten of the reference's 10,000-row batches
    size = 100_000
    size_unit = "destination rows, 1% inserts, 1% updates, 0.5% deletes"

    @property
    def rows_per_job(self) -> int:
        return self.planted["source_rows"]

    def reset(self) -> None:
        shutil.rmtree(self.dest, ignore_errors=True)
        shutil.copytree(self.inputs.destination_seed, self.dest)

    def rows_written(self, result) -> int:
        return self.planted["source_rows"]  # the rewritten snapshot

    def job(self, spark, tracer):
        from data_warehouse_migrate_spark.migrate import MigrationJob

        mj = MigrationJob(source_path=self.inputs.source,
                          destination_path=self.dest, mode="overwrite",
                          source_schema=_specs(SYNC_SCHEMA))
        with tracer.span("migrate.run_incremental"):
            return {"run": mj.run_incremental(spark, key_cols=["id"])}

    def check(self, result) -> list[str]:
        p = self.planted
        want = {k: p[k] for k in ("insert", "update", "delete", "unchanged")}
        errors = []
        got = result["run"].get("delta_counts")
        if got != want:
            errors.append(f"delta_counts {got} != planted {want}")
        t = pq.read_table(self.dest, columns=["id"])
        if t.num_rows != p["source_rows"]:
            errors.append(f"destination rows {t.num_rows} after sync != "
                          f"source rows {p['source_rows']}")
        return errors


class CorpusDedup(Workload):
    """clean -> MinHash LSH -> near-dup removal: text functions, a
    self-join shuffle and persisted intermediates."""

    name = "corpus_dedup"
    size = 600
    size_unit = ("distinct docs + 20% exact copies + 20% near-dups "
                 "+ 12% junk")
    # LSH with 16 hashes in 4 bands finds a pair of Jaccard 0.93 with
    # probability ~0.99; the check allows a few misses per run
    min_recall = 0.9
    threshold = 0.5

    @property
    def rows_per_job(self) -> int:
        return self.planted["docs"]

    def job(self, spark, tracer):
        from data_warehouse_migrate_spark.operators import dedup, pipeline
        from data_warehouse_migrate_spark.sources import readers, sinks

        docs = readers.read_table(spark, self.inputs.source)
        clean = pipeline.clean_corpus(docs, "text", "doc_id")
        pairs = dedup.minhash_lsh_pairs(clean, "text", "doc_id",
                                        threshold=self.threshold)
        kept = dedup.near_dup_removal(clean, pairs, "doc_id")
        sinks.write_table(kept, self.dest, mode="overwrite")
        # the operators persist their signatures and candidates for the
        # session's lifetime; a long-lived session drops them per pass
        spark.catalog.clearCache()
        return {}

    def rows_written(self, result) -> int:
        return pq.read_table(self.dest, columns=["doc_id"]).num_rows

    def check(self, result) -> list[str]:
        p = self.planted
        kept = set(pq.read_table(self.dest, columns=["doc_id"])
                   .column("doc_id").to_pylist())
        base, near = set(p["base_ids"]), set(p["near_ids"])
        errors = []
        if not base <= kept:
            errors.append(f"{len(base - kept)} distinct documents dropped")
        extra = kept - base
        if not extra <= near:
            errors.append(f"{len(extra - near)} kept ids are copies or junk")
        if len(extra) > (1 - self.min_recall) * len(near):
            errors.append(f"near-dup recall {1 - len(extra) / len(near):.3f}"
                          f" below {self.min_recall}")
        return errors

    def run_errors(self, spark) -> list[str]:
        """Every emitted pair must reach the Jaccard threshold (one extra,
        untimed pass)."""
        from data_warehouse_migrate_spark.operators import dedup, pipeline
        from data_warehouse_migrate_spark.sources import readers

        clean = pipeline.clean_corpus(
            readers.read_table(spark, self.inputs.source), "text", "doc_id")
        pairs = dedup.minhash_lsh_pairs(clean, "text", "doc_id",
                                        threshold=self.threshold).collect()
        spark.catalog.clearCache()
        low = [r for r in pairs if r["jaccard"] < self.threshold]
        errors = [f"{len(low)} pairs below Jaccard {self.threshold}"] \
            if low else []
        if not pairs:
            errors.append("no near-duplicate pairs emitted")
        return errors


class Batch:
    """One benchmark workload: its parts run one after another in every
    job, as the tables of one nightly batch do. The loop in ``run.py``
    sees a single workload; the parts keep their own inputs, destinations
    and checks."""

    def __init__(self, name: str, parts: list[Workload]):
        self.name = name
        self.parts = parts
        self.size_unit = "; ".join(f"{p.name}: {p.size} {p.size_unit}"
                                   for p in parts)

    @property
    def rows_per_job(self) -> int:
        return sum(p.rows_per_job for p in self.parts)

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def job(self, spark, tracer) -> list:
        return [p.job(spark, tracer) for p in self.parts]

    def check(self, result: list) -> list[str]:
        return [f"{p.name}: {e}" for p, r in zip(self.parts, result)
                for e in p.check(r)]

    def run_errors(self, spark) -> list[str]:
        return [f"{p.name}: {e}" for p in self.parts
                for e in p.run_errors(spark)]

    def rows_written(self, result: list) -> int:
        return sum(p.rows_written(r) for p, r in zip(self.parts, result))

    def source_bytes(self) -> int:
        return sum(p.source_bytes() for p in self.parts)

    def dest_files_bytes(self) -> tuple[int, int]:
        fb = [p.dest_files_bytes() for p in self.parts]
        return sum(f for f, _ in fb), sum(b for _, b in fb)

    def delta_counts(self, result: list) -> dict:
        """The delta counts of the part that synced incrementally."""
        for r in result:
            counts = (r.get("run") or {}).get("delta_counts")
            if counts:
                return counts
        return {}


# workload name -> its parts, in job order
WORKLOADS = {
    # the nightly batch of a warehouse migration: the newest dt= partition
    # of the wide fact table, migrated with the full job config and
    # verified, then the incremental sync of a second table
    "daily_batch": (LatestPartition, IncrementalSync),
    "corpus_dedup": (CorpusDedup,),
}
