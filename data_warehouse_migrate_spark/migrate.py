"""The migration pipeline: read → prune → cast → map → constrain → write.

The reference's sequential per-batch loop (reference ``migrator.py:277-343``)
becomes ONE lazy DataFrame chain — scan → narrow transforms → write — with a
single action. No shuffle anywhere in the pipeline (verified in tests via
the physical plan): at 100 TB this is a pure map-side job that scales
linearly with executors.

Stage order matches the reference contract (``README.md:218``):
  type application (T3) → mapping transform (P1-P4, F1-F6, F13) →
  destination projection (P5) → default backfill (C2) → null policy (C1) →
  sink write (S9/S10).

The eager steps of a run live in two places: ``build_plan`` resolves the
latest partition, and ``_pre_write_gate`` — called by every runner right
before it writes — runs the 'fail' null check, fused with the sized
sink's row count and bytes per row into one aggregate.

Every runner writes through ``MigrationJob._write``, so the sizing, the
JDBC options and column types and ``write_partition_by`` reach every
write alike; both streaming runners share ``_drive_stream``.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.exceptions import ConfigurationError
from data_warehouse_migrate_spark.functions.casts import apply_source_schema
from data_warehouse_migrate_spark.functions.sizing import count_bytes_and_nulls
from data_warehouse_migrate_spark.operators.constraints import (
    apply_defaults_backfill,
    apply_null_policy,
)
from data_warehouse_migrate_spark.operators.mapping import (
    Mapping,
    apply_mapping,
    project_to_destination,
)
from data_warehouse_migrate_spark.plans.dryrun import explain_plan
from data_warehouse_migrate_spark.schema import ColumnSpec, dedup_columns, specs_from_dataframe
from data_warehouse_migrate_spark.sources.readers import (
    _local_path,
    latest_partition_filter,
    open_file_stream,
    parquet_rows,
    read_table,
    validate_table_access,
)
from data_warehouse_migrate_spark.sources.sinks import MigrationMode, write_table
from data_warehouse_migrate_spark.sqltext import ident, sql_string

logger = logging.getLogger(__name__)

# "Table does not exist" classification for the incremental-JDBC
# first-run check, strongest evidence first (the r6 advisor flagged the
# old prose-only matcher: generic marks like "not found" also appear in
# missing-SCHEMA / missing-DATABASE errors, reclassifying a broken
# destination as first-run and falling through to a full append — the
# exact duplication hazard this check guards):
#   1. SQLState of the underlying java.sql.SQLException — the standard
#      table-not-found states: Derby/DB2 42X05, MySQL/SQLServer/HSQLDB
#      42S02 + S0002, Postgres 42P01, DB2 42704; Oracle's ORA-00942
#      hides behind the generic 42000, so it needs vendor code 942 too.
#      A SQLException with a DIFFERENT state is a definitive "not a
#      missing table" — propagate.
#   2. No SQLException in the cause chain → DatabaseMetaData.getTables
#      existence probe over a fresh driver connection (case-insensitive:
#      engines case-fold unquoted names, Derby upper, Postgres lower).
#   3. Prose matching as the last resort, and only the SPECIFIC
#      table-shaped phrases — kept because some drivers (and Spark's own
#      error framework) flatten the SQLException away entirely.
# An UNRECOGNIZED error propagates, which fails safe: the hazard is
# misreading a live-but-unreachable table as absent and
# append-duplicating it, not the reverse.
_JDBC_MISSING_SQLSTATES = frozenset({"42X05", "42S02", "S0002", "42P01",
                                     "42704"})
_JDBC_MISSING_TABLE_MARKS = (
    "42x05", "42s02", "42p01", "ora-00942", "error 1146",
    "no such table", "table or view not found",
    "table_or_view_not_found", "table not found",
)

# the bookkeeping columns of a run_scd2 history: each version is valid
# from the first date until the second, and the flag marks the current one
_SCD2_COLS = ("valid_from", "valid_to", "is_current")


def _count_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation of its row count, which the action that
    writes it fills in (``obs.get["n"]`` after the write): the rows are
    counted on the write pass itself, not by a second one."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _checkpoint_counted(delta: DataFrame, **conditions: str
                        ) -> tuple[DataFrame, dict[str, int], dict[str, int]]:
    """``delta`` localCheckpointed, its rows per ``change_type`` (each
    type, zero included) and, under each keyword, its rows that meet
    that SQL condition: all counted by an Observation on the
    checkpoint's own pass."""
    obs = Observation()
    types = {t: f"change_type = {sql_string(t)}"
             for t in ("insert", "update", "delete", "unchanged")}
    cp = delta.observe(obs, *[F.expr(f"count_if({c}) AS {ident(n)}")
                              for n, c in {**types, **conditions}.items()]
                       ).localCheckpoint()
    got = {n: int(v) for n, v in obs.get.items()}
    return cp, {t: got.pop(t) for t in types}, got


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint()``ed DataFrame now, not
    when the JVM collects it; the DataFrame cannot be read after."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _java_throwable_chain(err: Exception):
    """The Java cause chain of a Py4J / pyspark-captured exception
    (depth-capped — JDBC drivers occasionally build cyclic causes)."""
    jt = getattr(err, "java_exception", None)  # Py4JJavaError
    if jt is None:
        jt = getattr(err, "_origin", None)  # pyspark CapturedException
    for _ in range(16):
        if jt is None:
            return
        yield jt
        try:
            jt = jt.getCause()
        except Exception:
            return


def _missing_by_sqlstate(err: Exception) -> bool | None:
    """Tri-state SQLState verdict: True (a table-not-found state),
    False (a SQLException with some OTHER state — definitely not a
    missing table), None (no SQLState evidence either way)."""
    verdict: bool | None = None
    for t in _java_throwable_chain(err):
        try:
            state = t.getSQLState()
            code = int(t.getErrorCode())
        except Exception:
            continue  # not a java.sql.SQLException
        if state is None:
            continue
        state = str(state).upper()
        if state in _JDBC_MISSING_SQLSTATES or (state == "42000"
                                                and code == 942):
            return True
        verdict = False  # saw a real SQLState that says something else
    return verdict


def _jdbc_table_exists(spark: SparkSession, jdbc_options: dict[str, str],
                       table: str) -> bool | None:
    """DatabaseMetaData.getTables existence probe over the driver
    connection ``apply_delta_jdbc`` opens too. Case-insensitive on the
    unqualified name (unquoted identifiers case-fold per dialect).
    Returns None when the probe itself fails — the caller falls back to
    prose matching rather than trusting a broken probe."""
    from data_warehouse_migrate_spark.operators.delta import _jdbc_connection

    try:
        conn = _jdbc_connection(spark, jdbc_options)
        try:
            name = table.rsplit(".", 1)[-1]
            for pat in (name, name.upper(), name.lower()):
                rs = conn.getMetaData().getTables(None, None, pat, None)
                try:
                    if rs.next():
                        return True
                finally:
                    rs.close()
            return False
        finally:
            conn.close()
    except Exception as e:  # probe is advisory, never raises
        logger.warning("JDBC existence probe failed: %s", e)
        return None


def _jdbc_table_missing(err: Exception, spark: SparkSession | None = None,
                        jdbc_options: dict[str, str] | None = None,
                        table: str | None = None) -> bool:
    verdict = _missing_by_sqlstate(err)
    if verdict is not None:
        return verdict
    if spark is not None and jdbc_options and jdbc_options.get("url") and table:
        exists = _jdbc_table_exists(spark, jdbc_options, table)
        if exists is not None:
            return not exists
    msg = str(err).lower()
    return any(m in msg for m in _JDBC_MISSING_TABLE_MARKS)


@dataclass
class MigrationJob:
    """One table migration — the engine's equivalent of the reference's
    ``DataMigrator`` + ``migrate_table`` (reference ``migrator.py:122-167``).
    """

    source_path: str
    destination_path: str
    source_format: str = "parquet"
    destination_format: str = "parquet"
    mode: str = "append"
    limit: int | None = None
    source_schema: list[ColumnSpec] | None = None
    mapping: Mapping | dict | None = None
    dest_schema: list[dict] | None = None  # introspected destination catalog rows
    non_nullable: list[str] = field(default_factory=list)
    null_policy: str = "fail"
    null_fill_sentinel: str = ""
    partition_columns: list[str] = field(default_factory=list)
    preserve_string_null_tokens: bool = True
    treat_empty_string_as_null: bool = False
    pandas_compat: bool = True
    source_jdbc: dict[str, str] | None = None
    destination_jdbc: dict[str, str] | None = None
    write_partition_by: list[str] = field(default_factory=list)
    # target output file size in MB for file-format sinks (0 = off): every
    # file write of the job (run, the run_incremental rewrite, both
    # run_scd2 writes, each run_stream batch) goes through
    # sources.sinks.write_sized, which repartitions by the row count and
    # bytes per row so output files land near this size instead of
    # one-file-per-task (the anti-small-files knob). Each sized write
    # pays the repartition plus one sizing aggregate: under 'fail' the
    # gate's own null-check aggregate wherever the gate sees its rows.
    target_file_mb: int = 0
    # the source plan the last run()/run_incremental()/run_scd2() built
    # and wrote; verify() checksums it instead of rebuilding the plan
    _plan: DataFrame | None = field(default=None, init=False, repr=False,
                                    compare=False)

    # ------------------------------------------------------------------
    def _mapping(self) -> Mapping | None:
        if self.mapping is None:
            return None
        return (self.mapping if isinstance(self.mapping, Mapping)
                else Mapping.from_dict(self.mapping))

    def _column_types(self) -> str | None:
        """The JDBC writer's ``createTableColumnTypes`` from the mapping's
        type overrides (None without any)."""
        mapping = self._mapping()
        if not (mapping and mapping.type_override):
            return None
        return ", ".join(f"{ident(c)} {t}"
                         for c, t in mapping.type_override.items())

    def _read_source(self, spark: SparkSession) -> DataFrame:
        return read_table(spark, self.source_path, fmt=self.source_format,
                          jdbc_options=self.source_jdbc)

    def _source_plan(self, spark: SparkSession) -> DataFrame:
        """Build the run's source plan and keep it for :meth:`verify`."""
        self._plan = self.build_plan(spark)
        return self._plan

    def _read_destination(self, spark: SparkSession) -> DataFrame | None:
        """The destination as it stands, or None when it does not exist
        yet: the first-run signal of :meth:`run_incremental` and
        :meth:`_scd2_sync`. ONLY a missing table counts as absent — any
        other failure (auth, network, corrupt files, dialect quirk)
        PROPAGATES: classifying a live destination as a first run would
        append-duplicate or full-overwrite it. JDBC destinations are
        checked by the read itself — a JDBC ``load()`` resolves the
        schema with a zero-row query and raises on a missing table — its
        error classified by :func:`_jdbc_table_missing`; file and catalog
        destinations by ``AnalysisException`` or an empty schema. A file
        destination on the local file system that does not exist is
        absent without a Spark read (which logs a ``PATH_NOT_FOUND``
        stack trace through its listener bus)."""
        from pyspark.errors import AnalysisException

        if self.destination_format == "jdbc":
            try:
                return read_table(spark, self.destination_path, fmt="jdbc",
                                  jdbc_options=self.destination_jdbc)
            except Exception as e:
                if not _jdbc_table_missing(e, spark,
                                           self.destination_jdbc or {},
                                           self.destination_path):
                    raise
                return None
        path = self.destination_path
        if self.destination_format != "table" and not os.path.exists(path):
            local = _local_path(spark, path)
            if local is not None and not os.path.exists(local):
                return None
        try:
            dest = read_table(spark, path, fmt=self.destination_format)
        except AnalysisException:
            return None
        return dest if dest.columns else None

    # ------------------------------------------------------------------
    def build_plan(self, spark: SparkSession) -> DataFrame:
        """Construct the full lazy plan. Resolving the latest partition is
        its one eager step (the footers' row counts, read on the driver,
        on a hive-partitioned local Parquet source; an ``agg(max)`` on
        sources without directory partitions). The null-policy 'fail' check
        is not part of the plan: every runner runs it in
        :meth:`_pre_write_gate`."""
        return self._plan_from(self._read_source(spark))

    def _plan_from(self, df: DataFrame, plan_only: bool = False) -> DataFrame:
        """:meth:`build_plan` on an already-read source frame. With
        ``plan_only`` (the dry-run path) the latest partition is not
        resolved — :meth:`dry_run` reports it as a planned check — so
        NOTHING is executed."""
        # partition pruning / full-scan guard (S2/P6)
        if self.partition_columns and not plan_only:
            df = latest_partition_filter(df, self.partition_columns)
        if self.limit:
            df = df.limit(self.limit)
        return self._transform(df)

    # ------------------------------------------------------------------
    def _transform(self, df: DataFrame) -> DataFrame:
        """The cast → map → project → backfill → constrain chain on an
        already-read DataFrame — shared verbatim by the batch plan and the
        per-micro-batch paths of ``run_stream`` and ``run_scd2_stream``
        (where ``df`` is the batch DataFrame ``foreachBatch`` hands over).
        Lazy throughout: 'fill' and 'skip' are narrow transforms, and
        'fail' is left to :meth:`_pre_write_gate`."""
        # T3: declared-source-type casting
        schema = self.source_schema or specs_from_dataframe(df)
        schema = dedup_columns(schema)
        df = apply_source_schema(
            df, schema,
            preserve_null_tokens=self.preserve_string_null_tokens,
            treat_empty_as_null=self.treat_empty_string_as_null)

        # drop partition columns from the destination (schema_mapper.py:55-58)
        part_cols = {c.name.lower() for c in schema if c.is_partition}
        part_cols.update(c.lower() for c in self.partition_columns)
        drops = [c for c in df.columns if c.lower() in part_cols]
        if drops:
            df = df.drop(*drops)

        # mapping pipeline (P1-P4, F1-F6, F13)
        df = apply_mapping(df, self.mapping, pandas_compat=self.pandas_compat)

        # destination projection + typed default backfill + null policy
        if self.dest_schema:
            df = project_to_destination(df, [c["name"] for c in self.dest_schema])
            df = apply_defaults_backfill(df, self.dest_schema)
        if self.non_nullable and self.null_policy != "fail":
            dest_types = {c["name"]: str(c.get("type", ""))
                          for c in (self.dest_schema or [])}
            df = apply_null_policy(df, self.non_nullable, policy=self.null_policy,
                                   sentinel=self.null_fill_sentinel,
                                   dest_types=dest_types or None)
        return df

    def _pre_write_gate(self, plan: DataFrame,
                        sized: bool = False) -> tuple[int, float] | None:
        """The eager check every runner makes on its transformed rows
        right before it writes: under null_policy='fail' a NULL in a
        non-nullable column raises ``NullPolicyViolation`` here, so
        nothing is written. For a ``sized`` sink the same single
        aggregate also counts the rows and measures their average bytes,
        returned as the (rows, bytes/row) figures ``write_sized`` takes.
        Without 'fail' it runs nothing: a sized write measures itself."""
        fail = self.non_nullable if self.null_policy == "fail" else []
        if not fail:
            return None
        if not sized:
            apply_null_policy(plan, fail, policy="fail")
            return None
        n_rows, row_bytes, nulls = count_bytes_and_nulls(plan, fail)
        apply_null_policy(plan, fail, policy="fail", counts=nulls)
        return n_rows, row_bytes

    # ------------------------------------------------------------------
    def run(self, spark: SparkSession) -> dict[str, Any]:
        """Execute the migration; returns a summary dict. One write action —
        Spark parallelizes what the reference did sequentially.

        ``rows_written`` is measured ON the write via an Observation (zero
        extra pass — the reference reports rows migrated,
        ``migrator.py:334-338``); ``destination_rows`` is the post-write
        destination total, counted only for file sinks (on JDBC it would
        be a full table scan — reported as None there). In append mode it
        includes pre-existing rows.
        """
        mode = MigrationMode.parse(self.mode)
        return self._migrate(spark, self._source_plan(spark), mode)

    @property
    def _sized(self) -> bool:  # a JDBC table has no files to size
        return bool(self.target_file_mb) and self.destination_format != "jdbc"

    def _migrate(self, spark: SparkSession, plan: DataFrame,
                 mode: MigrationMode) -> dict[str, Any]:
        """Gate, write and read back ``plan``: :meth:`run`'s summary. A
        local Parquet destination's ``destination_rows`` is the sum of
        the row counts in its data files' footers, read on the driver
        (``sources.readers.parquet_rows``); any other file destination,
        or one whose footers cannot answer, is read back with the schema
        just written and counted (two Spark jobs)."""
        rows_written = self._write(plan, mode,
                                   self._pre_write_gate(plan, self._sized))
        destination_rows = None
        if self.destination_format == "parquet":
            # the row counts in the footers of the files just written
            destination_rows = parquet_rows(spark, self.destination_path)
        if destination_rows is None and self.destination_format != "jdbc":
            # a real count of what is on disk; the schema just written
            # saves the read its inference job
            destination_rows = read_table(
                spark, self.destination_path, fmt=self.destination_format,
                schema=plan.schema).count()
        return {
            "status": "success",
            "destination": self.destination_path,
            "mode": mode.value,
            "rows_written": rows_written,
            "destination_rows": destination_rows,
        }

    def _write(self, df: DataFrame, mode: MigrationMode,
               figures: tuple[int, float] | None = None) -> int:
        """Write ``df`` and return the rows written, counted on the write.
        A sized write takes the gate's (rows, bytes/row) ``figures`` if
        it measured ``df``; otherwise ``write_sized`` measures it."""
        df, obs = _count_rows(df)
        sink = dict(fmt=self.destination_format, mode=mode,
                    jdbc_options=self.destination_jdbc,
                    create_table_column_types=self._column_types(),
                    partition_by=self.write_partition_by or None)
        if self._sized:
            # looked up at call time: a wrapper on the module sees the call
            from data_warehouse_migrate_spark.sources import sinks

            sinks.write_sized(
                df, self.destination_path,
                target_file_bytes=self.target_file_mb * 1024 * 1024,
                figures=figures, **sink)
        else:
            write_table(df, self.destination_path, **sink)
        return int(obs.get["n"])

    # ------------------------------------------------------------------
    def verify(self, spark: SparkSession) -> dict[str, Any]:
        """Post-migration content verification (beyond-reference — the
        reference stops at row counts, ``migrator.py:334-338``): compare
        the transformed source with the destination by row count AND an
        order-independent checksum (sum of 60-bit row hashes mod 2^60 —
        multiset-safe where XOR would cancel duplicate pairs), the
        whole-table ``operators.validate.group_checksum``, over every
        column whose string rendering is engine/layout-stable (integer,
        string, date, boolean, decimal). Float/timestamp columns are EXCLUDED and
        reported in ``skipped_columns`` — their renderings differ across
        engines, so a checksum over them would alarm on noise; the row
        count still covers their presence.

        The source side is the plan the last :meth:`run`,
        :meth:`run_incremental` or :meth:`run_scd2` of this job built and
        wrote: its file listing, resolved latest partition and null-policy
        check are reused, not redone, so the checksum covers the rows
        that run wrote even if a newer partition has landed since. A job
        that has not run yet builds the plan here. Both sides' counts and
        checksums come from ONE aggregate over their hashed rows
        (``operators.validate.paired_checksums``): two Spark jobs (AQE's
        shuffle and result), and a local Parquet destination's schema
        comes from a footer, so its read runs none — no row transfer, no
        sort, safe at any scale. Returns a dict with ``verified`` True
        iff counts and checksums both match.

        Snapshot semantics only: in APPEND mode the destination may hold
        rows from earlier runs, so whole-table equality against one
        run's source is structurally meaningless — ``verified`` comes
        back None with a reason instead of a false alarm (the CLI treats
        only ``verified is False`` as failure).
        """
        if MigrationMode.parse(self.mode) is MigrationMode.APPEND:
            return {"verified": None,
                    "checksum_match": None,
                    "reason": "append-mode destination may contain rows "
                              "from earlier runs; content verification "
                              "compares full snapshots — use overwrite "
                              "mode or verify against a fresh "
                              "destination"}
        if self.limit:
            return {"verified": None,
                    "checksum_match": None,
                    "reason": "limit selects an UNORDERED subset — "
                              "recomputing the plan may pick different "
                              "rows than the run wrote, so checksum "
                              "equality is not meaningful under limit"}
        from pyspark.sql import types as T

        from data_warehouse_migrate_spark.operators.validate import (
            paired_checksums,
        )

        plan = self._plan if self._plan is not None else self.build_plan(spark)
        dest = read_table(spark, self.destination_path,
                          fmt=self.destination_format,
                          jdbc_options=self.destination_jdbc)
        stable = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.StringType, T.DateType, T.BooleanType, T.DecimalType)
        # case-INSENSITIVE destination match (the engine's convention —
        # a warehouse echoing upper-cased names would otherwise silently
        # empty the checksum column set and weaken verify to counts-only)
        dest_by_lower = {c.lower(): c for c in dest.columns}
        cols = [f.name for f in plan.schema.fields
                if isinstance(f.dataType, stable)
                and f.name.lower() in dest_by_lower]
        skipped = [c for c in plan.columns if c not in cols]
        s, d = paired_checksums(plan, dest, cols)
        if not cols:
            return {"verified": s["n_rows"] == d["n_rows"],
                    "source_rows": s["n_rows"],
                    "destination_rows": d["n_rows"], "checksum_match": None,
                    "columns_checked": [], "skipped_columns": skipped}
        counts_ok = s["n_rows"] == d["n_rows"]
        sums_ok = s["checksum"] == d["checksum"]
        return {"verified": counts_ok and sums_ok,
                "source_rows": s["n_rows"],
                "destination_rows": d["n_rows"],
                "checksum_match": sums_ok,
                "columns_checked": cols,
                "skipped_columns": skipped}

    # ------------------------------------------------------------------
    def run_incremental(self, spark: SparkSession,
                        key_cols: list[str],
                        reconcile_drift: bool = False,
                        jdbc_merge: bool = True) -> dict[str, Any]:
        """Incremental sync (beyond-reference — the reference re-ships
        every row on every run): diff the TRANSFORMED source against the
        destination's current rows on the business key
        (``operators.delta.snapshot_delta``) and apply only the delta.

        First run (destination absent/empty) writes the source plan as a
        full :meth:`run` would. A file-format destination has no in-place
        update, so when anything changed it is overwritten with the next
        snapshot — current rows minus deleted/updated keys, plus
        insert/update rows. With unique keys that snapshot is the source
        itself cast to the destination's schema
        (``operators.delta.snapshot_from_source``), so the delta JOIN
        only counts the changes and the rewrite reads the source alone:
        no cached delta, no destination re-scan, and no read-then-
        overwrite cycle on the same path. Local Parquet sides take their
        schemas from footers (``sources.readers.footer_schema``), so the
        Spark jobs of a changed run are the delta's counting aggregate
        and the rewrite. The one visible difference
        from applying the delta: a value equal under ``<=>`` but not
        identical (``0.0`` vs ``-0.0``) counts as unchanged, yet a
        rewrite carries the source's value. A converged run writes
        nothing. A JDBC destination takes the same delta IN PLACE
        (:meth:`_apply_changes`): staged, then one server-side MERGE
        (``jdbc_merge=True``) or, for dialects without MERGE, a
        DELETE+INSERT pair — no rewrite, no rows through the driver.

        ``reconcile_drift=True`` projects the transformed source onto the
        destination's CURRENT schema first
        (``functions.casts.reconcile_to_schema``): new source columns are
        dropped, vanished ones turn into typed NULLs, lossless widenings
        cast up, and narrowing drift raises instead of truncating — so a
        drifted source diffs cleanly instead of failing the key join.

        Returns per-change-type counts plus the applied row total.
        """
        from data_warehouse_migrate_spark.operators import delta as ops

        # a limited or latest-partition-pruned source is a SUBSET of the
        # logical table: every destination key outside it would classify
        # as 'delete' and be destroyed by the sync — refuse, as
        # run_stream does for its own incompatible options
        if self.limit or self.partition_columns:
            raise ConfigurationError(
                "run_incremental needs the FULL source snapshot: with "
                "limit/partition_columns the diff would mark every "
                "destination row outside the pruned subset as a delete "
                "and destroy it; drop those options for incremental sync")
        src = self._source_plan(spark)
        dest = self._read_destination(spark)
        if dest is None:
            out = self._migrate(spark, src, MigrationMode.parse(self.mode))
            out["incremental"] = False
            return out

        gated = src
        if reconcile_drift:
            from data_warehouse_migrate_spark.functions.casts import (
                reconcile_to_schema,
            )

            src = reconcile_to_schema(src, dest.schema)
        delta = ops.snapshot_delta(src, dest, key_cols)
        # its schema resolves before the count: a schema mismatch raises
        # here, before the join runs and before any write
        nxt = (ops.snapshot_from_source(src, dest, delta)
               if self.destination_format != "jdbc" else None)
        # the gate's figures size the rewrite only if it writes the gated
        # rows' columns as they are; else the sized write measures nxt
        figures = self._pre_write_gate(
            gated, self._sized and nxt.dtypes == gated.dtypes)
        return {"status": "success", "incremental": True,
                "destination": self.destination_path,
                **self._apply_changes(delta, key_cols, lambda: nxt,
                                      figures, use_merge=jdbc_merge)}

    def _apply_changes(self, delta: DataFrame, keys: list[str], rewrite,
                       figures: tuple[int, float] | None = None,
                       use_merge: bool = True,
                       counts: dict[str, int] | None = None
                       ) -> dict[str, Any]:
        """The one apply step of both sync runners: count the
        ``change_type``-marked ``delta`` (unless the caller passes its
        ``counts``) and, if anything changed, overwrite a file
        destination with ``rewrite()`` through :meth:`_write`, or apply
        the delta keyed by ``keys`` to a JDBC destination IN PLACE
        (``operators.delta.apply_delta_jdbc``). A JDBC delta counted
        here is persisted for the count and the staged apply and
        unpersisted even when either fails; a caller that passes
        ``counts`` owns its delta's storage. Returns the summary fields
        it owns: ``delta_counts`` per change type, ``rows_applied`` (the
        rows not 'unchanged') and, when it ran, ``jdbc_apply``."""
        from pyspark import StorageLevel

        from data_warehouse_migrate_spark.operators import delta as ops

        jdbc = self.destination_format == "jdbc"
        persist = jdbc and counts is None
        if persist:
            delta = delta.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if counts is None:
                counts = {r.change_type: int(r.n_rows)
                          for r in ops.delta_counts(delta).collect()}
            out = {"delta_counts": counts,
                   "rows_applied": sum(n for t, n in counts.items()
                                       if t != "unchanged")}
            if not out["rows_applied"]:
                return out
            if jdbc:
                out["jdbc_apply"] = ops.apply_delta_jdbc(
                    delta, keys, self.destination_jdbc or {},
                    self.destination_path, use_merge=use_merge,
                    n_changed=out["rows_applied"])
            else:
                self._write(rewrite(), MigrationMode.OVERWRITE, figures)
            return out
        finally:
            if persist:
                delta.unpersist()

    # ------------------------------------------------------------------
    def run_scd2(self, spark: SparkSession, key_cols: list[str],
                 tracked_cols: list[str] | None = None,
                 batch_date: str | None = None,
                 close_deleted: bool = False) -> dict[str, Any]:
        """Type-2 slowly-changing-dimension sync (beyond-reference): the
        destination holds a VERSIONED history (``key_cols`` +
        ``tracked_cols`` + ``valid_from``/``valid_to``/``is_current``),
        and each run folds the transformed source snapshot into it via
        ``operators.delta.scd2_apply`` — changed keys close and reopen,
        new keys insert, identical payloads are no-ops, and versions
        closed by an earlier batch are never rewritten.

        First run (destination absent) initializes the history: every
        source row becomes version 1, valid from ``batch_date``. Like
        every write of the job it goes through :meth:`_write`: sized by
        ``target_file_mb`` on a file sink, and a JDBC table it creates
        takes the mapping's ``type_override`` column types.
        ``batch_date`` defaults to today (UTC date) — pass it explicitly
        for reproducible pipelines. ``tracked_cols`` defaults to every
        non-key source column. ``close_deleted=True`` treats the source
        as a FULL snapshot (keys gone from it close without successor) —
        refused under limit/partition pruning, where the source is a
        subset and every unseen key would be wrongly closed.

        One ``batch_date`` may take many runs: a key changing again on
        the date its current version opened rewrites that version in
        place, and closing it as deleted removes it, so (business key,
        ``valid_from``) is unique and no version is the empty
        ``[batch_date, batch_date)``, on every destination. Batches
        fold in date order: a ``batch_date`` earlier than a date already
        in the history raises :class:`ConfigurationError` before
        anything is written.

        Apply strategy: the fold marks each version of the next history,
        keyed by (business key, ``valid_from``), as opened ('insert'),
        closed or rewritten ('update'), removed ('delete') or untouched,
        in the pass of a checkpoint that also counts the marks, and
        :meth:`run_incremental`'s apply step (:meth:`_apply_changes`)
        applies them: a file sink rewrites the history from the
        checkpoint (which breaks the read-then-overwrite cycle), a JDBC
        table takes the changed versions IN PLACE by the staged MERGE.
        ``versions_opened`` and ``versions_closed`` count the versions
        added and the versions whose ``valid_to`` this batch set; a
        rewrite or a removal counts in ``rows_applied`` only.
        """
        if close_deleted and (self.limit or self.partition_columns):
            raise ConfigurationError(
                "run_scd2(close_deleted=True) needs the FULL source "
                "snapshot: with limit/partition_columns every key "
                "outside the pruned subset would be closed as deleted; "
                "drop those options or use close_deleted=False")
        if batch_date is None:
            import datetime as _dt

            batch_date = _dt.datetime.now(_dt.timezone.utc).date().isoformat()

        src = self._source_plan(spark)
        return self._scd2_sync(spark, src, key_cols, tracked_cols,
                               batch_date, close_deleted)

    def _scd2_sync(self, spark: SparkSession, src: DataFrame,
                   key_cols: list[str], tracked_cols: list[str] | None,
                   batch_date: str, close_deleted: bool) -> dict[str, Any]:
        """The SCD2 fold core shared by :meth:`run_scd2` (batch) and
        :meth:`run_scd2_stream` (per micro-batch): read the destination
        history (absent → first-run initialize), fold ``src`` in with
        the fold marking the versions it opens, closes, rewrites and
        removes, checkpoint and count those, and apply them through
        :meth:`_apply_changes`, the same way into files and JDBC.

        A ``batch_date`` earlier than a date already in the history is
        refused before anything is written: it would close versions
        before they opened, and could open a second version of a key
        from one date. The checkpoint is a ``localCheckpoint``, which
        cannot be recomputed: an executor lost before the apply has read
        it fails the run, leaving the destination as it was (a JDBC
        apply stages the changed versions before its MERGE)."""
        from data_warehouse_migrate_spark.operators import delta as ops

        from_col, to_col, cur_col = _SCD2_COLS
        clash = [c for c in src.columns if c.lower() in _SCD2_COLS]
        if clash:
            raise ConfigurationError(
                f"source columns {clash} collide with SCD2 bookkeeping "
                f"columns {list(_SCD2_COLS)}; rename them in the mapping")
        hist = self._read_destination(spark)
        out: dict[str, Any] = {"status": "success", "scd2": True,
                               "first_run": hist is None,
                               "destination": self.destination_path,
                               "batch_date": batch_date}
        if hist is None:  # the gate's figures size the rows it sees
            first = (src.withColumn(from_col, F.lit(batch_date).cast("date"))
                     .withColumn(to_col, F.lit(None).cast("date"))
                     .withColumn(cur_col, F.lit(True)))
            n = self._write(first, MigrationMode.OVERWRITE,
                            self._pre_write_gate(first, self._sized))
            return {**out, "history_rows": n, "versions_opened": n,
                    "versions_closed": 0}

        self._pre_write_gate(src)  # a rewrite sizes what it writes
        tracked = tracked_cols or [c for c in src.columns
                                   if c not in set(key_cols)]
        # the fold runs once, in the pass of a checkpoint that counts its
        # marks: a file rewrite overwrites the history the fold reads,
        # and a JDBC apply stages the changed versions from it
        marked, counts, seen = _checkpoint_counted(
            ops._scd2_marked(hist, src, key_cols, tracked, batch_date,
                             *_SCD2_COLS, close_deleted),
            closed=f"change_type = 'update' AND NOT {ident(cur_col)}",
            later=f"greatest({ident(from_col)}, {ident(to_col)}) > "
                  f"{sql_string(batch_date)}")
        try:
            if seen["later"]:  # versions dated after batch_date
                raise ConfigurationError(
                    f"batch_date {batch_date} precedes {seen['later']} SCD2 "
                    f"versions' dates: fold batches in date order")
            applied = self._apply_changes(
                marked, [*key_cols, from_col],
                lambda: marked.filter("change_type <> 'delete'")
                .drop("change_type"), counts=counts)
        finally:
            _release_checkpoint(marked)
        del applied["delta_counts"]  # the counts passed in
        return {**out, **applied,
                "versions_opened": counts["insert"],
                "versions_closed": seen["closed"],
                "history_rows": sum(counts.values()) - counts["delete"]}

    # ------------------------------------------------------------------
    def _drive_stream(self, spark: SparkSession, checkpoint_dir: str,
                      handle, available_now: bool,
                      processing_time: str | None = None):
        """Run ``handle`` on each micro-batch of the source file stream:
        drain it and return the ended query with ``available_now``, else
        return it running (every ``processing_time`` when given)."""
        writer = (open_file_stream(spark, self.source_path,
                                   fmt=self.source_format)
                  .writeStream.foreachBatch(handle)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_scd2_stream(self, spark: SparkSession, checkpoint_dir: str,
                        key_cols: list[str],
                        tracked_cols: list[str] | None = None,
                        batch_date: str | None = None,
                        available_now: bool = True) -> dict[str, Any]:
        """CONTINUOUS type-2 history maintenance: the source directory
        becomes a file stream and every micro-batch folds its rows into
        the destination history via the same SCD2 core as
        :meth:`run_scd2` — arriving dimension updates version the
        history as they land, with the checkpoint guaranteeing each
        source file folds exactly once.

        Each micro-batch is by construction a PARTIAL snapshot, so
        deletes are never inferred (``close_deleted`` has no streaming
        analogue — a full-snapshot reconciliation belongs to a batch
        :meth:`run_scd2` run). ``batch_date=None`` stamps each batch
        with its processing UTC date (the usual always-on semantics);
        an explicit date pins every folded batch to one version date
        (reproducible catch-up runs); a key changing in two batches of
        one date keeps one version from it, and a date earlier than the
        history's last is refused (see :meth:`run_scd2`), on every
        destination. foreachBatch serializes
        batches, so history read-fold-write cycles never interleave;
        at-least-once on crash between write and checkpoint commit, as
        with :meth:`run_stream` (an identical-payload replay is a
        no-op by SCD2 semantics — replays cannot duplicate versions
        unless the batch date ALSO changed across the retry).
        """
        totals = {"batches": 0, "versions_opened": 0,
                  "versions_closed": 0}

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            import datetime as _dt

            if batch_df.isEmpty():
                return
            bd = batch_date or _dt.datetime.now(
                _dt.timezone.utc).date().isoformat()
            out = self._scd2_sync(spark, self._transform(batch_df),
                                  key_cols, tracked_cols, bd,
                                  close_deleted=False)
            totals["batches"] += 1
            totals["versions_opened"] += out["versions_opened"]
            totals["versions_closed"] += out["versions_closed"]

        q = self._drive_stream(spark, checkpoint_dir, handle, available_now)
        if available_now:
            return {"status": "success", "scd2": True,
                    "destination": self.destination_path,
                    "checkpoint": checkpoint_dir, **totals}
        return {"status": "running", "scd2": True,
                "destination": self.destination_path,
                "checkpoint": checkpoint_dir,
                "totals": totals, "query": q}

    # ------------------------------------------------------------------
    def run_stream(self, spark: SparkSession, checkpoint_dir: str,
                   available_now: bool = True,
                   processing_time: str | None = None) -> dict[str, Any]:
        """CONTINUOUS migration (beyond-reference — the reference migrates
        snapshots; this migrates arrivals): the source directory becomes a
        Structured Streaming file source, and every micro-batch runs the
        SAME cast → map → project → backfill → constrain chain
        (``_transform``) and the same sink writer via ``foreachBatch``.

        Incremental contract: the checkpoint tracks which source files
        were processed — a restarted job resumes where it stopped and
        never re-reads old files. ``available_now=True`` drains everything
        currently unprocessed, terminates, and returns a summary (the
        incremental catch-up run: schedule it instead of re-migrating the
        table). ``available_now=False`` with
        ``processing_time="30 seconds"`` starts an ALWAYS-ON migration
        and returns immediately with ``status="running"``, the live
        ``query`` (stop/awaitTermination belong to the caller), and a
        ``totals`` dict the batch handler keeps updating in place.

        Semantics kept from ``run()``: null_policy='fail' still executes
        its eager count — per micro-batch, on the batch DataFrame that
        ``foreachBatch`` hands over, aborting the stream on violation
        BEFORE the batch writes. Mode 'overwrite' truncates on the FIRST
        batch of a fresh checkpoint only; later batches append (a stream
        that overwrote per-batch would keep only the last batch).
        Delivery is exactly-once for idempotent/transactional sinks and
        at-least-once otherwise (standard foreachBatch contract — a crash
        between write and checkpoint commit replays the batch).

        Unsupported in streaming: JDBC/table SOURCES (no file listing to
        checkpoint), ``limit`` and latest-partition pruning (a stream IS
        the increment — new files only). JDBC DESTINATIONS are fine.
        """
        if self.source_format in ("jdbc", "table"):
            raise ConfigurationError(
                "run_stream requires a file-based source format "
                f"(parquet/csv/json/orc), got {self.source_format!r}")
        if not available_now and not processing_time:
            raise ConfigurationError(
                "run_stream with available_now=False requires "
                "processing_time (the always-on trigger interval)")
        if self.partition_columns or self.limit:
            raise ConfigurationError(
                "limit/partition_columns do not apply to run_stream: the "
                "stream's checkpoint already scopes work to NEW files")

        mode = MigrationMode.parse(self.mode)
        totals = {"rows_written": 0, "batches": 0}

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # null_policy='fail' raises here, BEFORE the write, aborting
            # the stream
            out = self._transform(batch_df)
            figures = self._pre_write_gate(out, self._sized)
            batch_mode = (mode if totals["batches"] == 0 and batch_id == 0
                          else MigrationMode.APPEND)
            totals["rows_written"] += self._write(out, batch_mode, figures)
            totals["batches"] += 1

        q = self._drive_stream(spark, checkpoint_dir, handle, available_now,
                               processing_time)
        if available_now:
            # catch-up mode: drained and terminated; report what moved
            return {
                "status": "success",
                "destination": self.destination_path,
                "mode": mode.value,
                "rows_written": totals["rows_written"],
                "batches": totals["batches"],
                "checkpoint": checkpoint_dir,
            }
        # always-on mode never terminates, so blocking here could never
        # return a summary: hand back the live StreamingQuery (stop/await
        # belong to the caller) plus the totals dict, which the foreachBatch
        # closure keeps updating in place as batches commit
        return {
            "status": "running",
            "destination": self.destination_path,
            "mode": mode.value,
            "totals": totals,
            "checkpoint": checkpoint_dir,
            "query": q,
        }

    # ------------------------------------------------------------------
    def test_connections(self, spark: SparkSession) -> dict[str, bool]:
        """S8: source + destination connectivity probes (reference
        ``maxcompute_client.py:334-351``, ``mysql_writer.py:98-104``,
        ``bigquery_client.py:381-395``). Source: LIMIT-1 read probe.
        Destination: JDBC runs ``SELECT 1`` through the connection; file
        and catalog destinations resolve their filesystem/identifier (a
        not-yet-existing path is fine — the writer creates it)."""
        try:
            source_ok = validate_table_access(self._read_source(spark))
        except Exception as e:  # probe, never raises
            logger.warning("source connection probe failed: %s", e)
            source_ok = False

        try:
            if self.destination_format == "jdbc":
                reader = spark.read.format("jdbc")
                for k, v in (self.destination_jdbc or {}).items():
                    # drop BOTH table-selection options: the probe sets its
                    # own 'query', and Spark raises on dbtable+query (a
                    # caller-supplied 'query' would fail a healthy probe)
                    if k not in ("dbtable", "query"):
                        reader = reader.option(k, v)
                reader.option("query", "SELECT 1").load().collect()
                destination_ok = True
            elif self.destination_format == "table":
                destination_ok = spark.catalog.databaseExists(
                    self.destination_path.rsplit(".", 1)[0]
                    if "." in self.destination_path else "default")
            else:
                jvm = spark._jvm
                p = jvm.org.apache.hadoop.fs.Path(self.destination_path)
                fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
                destination_ok = fs is not None  # URI scheme resolvable
        except Exception as e:  # probe, never raises
            logger.warning("destination connection probe failed: %s", e)
            destination_ok = False
        return {"source": source_ok, "destination": destination_ok}

    # ------------------------------------------------------------------
    def dry_run(self, spark: SparkSession) -> dict[str, Any]:
        """Plan-only validation (reference ``cli.py:332-412``): access probe,
        schema preview, mapping summary, physical plan — no data moved
        beyond a LIMIT-1 probe. The source is read (listed, its schema
        inferred) once, for both the probe and the plan."""
        src = self._read_source(spark)
        accessible = validate_table_access(src)
        plan = self._plan_from(src, plan_only=True)
        mapping = self._mapping()
        return {
            "planned_checks": {
                "partition_filter": (f"latest of {list(self.partition_columns)}"
                                     if self.partition_columns else None),
                "null_policy": ({"policy": self.null_policy,
                                 "columns": list(self.non_nullable)}
                                if self.non_nullable else None),
            },
            "source_accessible": accessible,
            "source_columns": len(src.columns),
            "partition_columns": list(self.partition_columns),
            "output_schema": [(f.name, f.dataType.simpleString())
                              for f in plan.schema.fields],
            "mapping_summary": {
                "include": mapping.include if mapping else None,
                "exclude": mapping.exclude if mapping else None,
                "rename": mapping.rename if mapping else {},
                "computed": list(mapping.computed) if mapping else [],
                "defaults": mapping.defaults if mapping else {},
                "order": mapping.order if mapping else [],
            },
            "physical_plan": explain_plan(plan) + (
                "\n-- NOTE: plan-only mode. The latest-partition filter"
                f" (columns {list(self.partition_columns)}) and the"
                " null-policy check are resolved at run() time and are NOT"
                " in this plan; see planned_checks for what run() adds."
                if self.partition_columns or (
                    self.non_nullable and self.null_policy == "fail")
                else ""),
        }


def job_from_config(cfg: dict[str, Any]) -> MigrationJob:
    """Build a MigrationJob from a merged flat config dict (see config.py)."""
    from data_warehouse_migrate_spark.config import select_table_mapping

    mapping = cfg.get("mapping")
    if mapping is None:
        mapping = select_table_mapping(cfg, cfg.get("source_table_name"))
    return MigrationJob(
        source_path=cfg["source_path"],
        destination_path=cfg["destination_path"],
        source_format=cfg.get("source_format", "parquet"),
        destination_format=cfg.get("destination_format", "parquet"),
        mode=cfg.get("mode", "append"),
        limit=cfg.get("limit"),
        mapping=mapping,
        non_nullable=cfg.get("non_nullable") or [],
        null_policy=cfg.get("null_on_non_nullable", "fail"),
        null_fill_sentinel=cfg.get("null_fill_sentinel", ""),
        partition_columns=cfg.get("source_partition_columns") or [],
        preserve_string_null_tokens=cfg.get("preserve_string_null_tokens", True),
        treat_empty_string_as_null=cfg.get("treat_empty_string_as_null", False),
        source_jdbc=cfg.get("source_jdbc"),
        destination_jdbc=cfg.get("destination_jdbc"),
        write_partition_by=cfg.get("write_partition_by") or [],
        target_file_mb=int(cfg.get("target_file_mb") or 0),
    )
