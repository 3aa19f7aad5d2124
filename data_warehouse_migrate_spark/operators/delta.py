"""Incremental migration: snapshot delta (CDC-style diff) between a
source table and the destination's current contents.

Beyond-reference surface (SURVEY.md §7.3 spirit): the reference moves a
table ONCE, append or overwrite-everything (``migrator.py:210-224``) —
re-running it re-ships every row. A real warehouse sync ships only the
delta: rows to INSERT (new keys), UPDATE (same key, changed payload),
and DELETE (keys gone from the source). This operator computes that
delta as a DataFrame so the engine's existing sinks apply it (append the
inserts, JDBC-update/merge the updates, anti-delete the deletes).

100 TB shape: ONE full-outer sort-merge join keyed on the business key —
both sides shuffle once on the key; with both snapshots bucketed on the
key (``sources.sinks.write_bucketed``) the exchange disappears entirely.
Change detection is a null-safe struct comparison (JVM expression, no
UDF), so the join output is filtered map-side before anything else moves.
The delta is typically a small fraction of the corpus: a JDBC sink
(``apply_delta_jdbc``) is sent the insert/update/delete rows only, never
the corpus. A file sink has no in-place update, so its next snapshot is
a full rewrite; ``snapshot_from_source`` builds it from the source alone,
and the join only counts the changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark JDBC reader/writer options that are NOT driver connection
# properties (Spark DataSource option reference) — stripped before
# building java.util.Properties for a raw DriverManager connection.
# Lowercased for case-insensitive comparison (Spark options are
# case-insensitive).
_SPARK_ONLY_JDBC_KEYS = frozenset({
    "url", "dbtable", "query", "preparequery", "partitioncolumn",
    "lowerbound", "upperbound", "numpartitions", "querytimeout",
    "fetchsize", "batchsize", "isolationlevel", "sessioninitstatement",
    "truncate", "cascadetruncate", "createtableoptions",
    "createtablecolumntypes", "customschema", "pushdownpredicate",
    "pushdownaggregate", "pushdownlimit", "pushdownoffset",
    "pushdowntablesample", "keytab", "principal", "refreshkrb5config",
    "connectionprovider", "prefertimestampntz", "driver",
})


def snapshot_delta(source: DataFrame, dest: DataFrame,
                   key_cols: list[str],
                   compare_cols: list[str] | None = None) -> DataFrame:
    """Classify every key across two snapshots.

    Returns one row per key present in either snapshot, with
    ``change_type`` ∈ {'insert','update','delete','unchanged'} and the
    SOURCE payload for insert/update rows (NULLs for delete — the key
    columns always carry the key from whichever side has it).

    ``compare_cols`` defaults to all non-key columns the two snapshots
    share; comparison is null-safe (NULL == NULL is unchanged — SQL
    ``IS NOT DISTINCT FROM``). Key collisions within a snapshot are the
    caller's contract (business keys are unique by definition); the join
    would otherwise multiply rows, as in any engine.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    shared = [c for c in source.columns
              if c in set(dest.columns) and c not in set(key_cols)]
    if compare_cols is None:
        compare_cols = shared
    missing = [c for c in compare_cols if c not in shared]
    if missing:
        raise ValueError(f"compare_cols not in both snapshots: {missing}")

    # explicit presence markers: inferring existence from key nullability
    # misclassifies NULL business keys (a NULL-key source row would look
    # "absent from source" and come out as delete/update noise)
    s = source.withColumn("__in_s", F.lit(1)).alias("s")
    d = dest.withColumn("__in_d", F.lit(1)).alias("d")
    cond = None
    for k in key_cols:
        eq = F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = eq if cond is None else cond & eq
    joined = s.join(d, cond, "full_outer")

    in_s = F.col("s.__in_s").isNotNull()
    in_d = F.col("d.__in_d").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        changed = ne if changed is None else changed | ne
    if changed is None:
        changed = F.lit(False)

    change = (F.when(in_s & ~in_d, F.lit("insert"))
              .when(~in_s & in_d, F.lit("delete"))
              .when(changed, F.lit("update"))
              .otherwise(F.lit("unchanged")))

    out_cols = [F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k)
                for k in key_cols]
    out_cols += [F.col(f"s.{c}").alias(c) for c in source.columns
                 if c not in key_cols]
    out_cols.append(change.alias("change_type"))
    return joined.select(*out_cols)


def delta_counts(delta: DataFrame) -> DataFrame:
    """Per-change-type row counts — the dry-run summary an operator
    checks before applying a delta (one narrow aggregate)."""
    return (delta.groupBy("change_type")
            .agg(F.count("*").alias("n_rows")))


def apply_delta(dest: DataFrame, delta: DataFrame,
                key_cols: list[str]) -> DataFrame:
    """Materialize the next destination snapshot from the current one
    plus a delta: drop deleted/updated keys, append inserts/updates.
    (For JDBC sinks the same delta drives MERGE/DELETE statements;
    ``MigrationJob.run_incremental`` rewrites a file sink from the source
    instead, see :func:`snapshot_from_source`.)

    One shuffle: the anti-join on the key; the union is free. The anti
    join is NULL-SAFE on the key columns — a column-list join uses
    null-unsafe equality, under which a NULL-key delete/update never
    matches and the stale destination row survives (duplicating on every
    sync).
    """
    moves = delta.filter(F.col("change_type").isin("delete", "update"))
    dd, mm = dest.alias("dd"), moves.select(*key_cols).alias("mm")
    cond = None
    for k in key_cols:
        eq = F.col(f"dd.{k}").eqNullSafe(F.col(f"mm.{k}"))
        cond = eq if cond is None else cond & eq
    keep = dd.join(mm, cond, "left_anti")
    return keep.unionByName(_upserts(dest, delta))


def _upserts(dest: DataFrame, delta: DataFrame) -> DataFrame:
    """The insert/update rows of ``delta`` in ``dest``'s columns."""
    return (delta.filter(F.col("change_type").isin("insert", "update"))
            .select(*dest.columns))


def snapshot_from_source(source: DataFrame, dest: DataFrame,
                         delta: DataFrame) -> DataFrame:
    """The snapshot ``apply_delta(dest, delta, key_cols)`` builds, read
    from the source alone, for ``delta = snapshot_delta(source, dest,
    key_cols)``.

    With unique keys (``snapshot_delta``'s contract) that snapshot holds
    exactly the source's keys, and each unchanged key's destination row
    equals its source row under null-safe ``<=>``. So it is the source
    cast to apply_delta's schema: the destination's column order and
    ``unionByName``'s types. The plan reads neither the destination nor
    the delta, so it can overwrite the destination's own path. The one
    difference: a value ``<=>``-equal to the destination's but not
    identical (``0.0`` vs ``-0.0``) comes out as the source has it.

    Resolving the schema runs no job; a destination column the source
    lacks raises ``AnalysisException`` here, as apply_delta would.
    """
    schema = dest.unionByName(_upserts(dest, delta)).schema
    return source.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                           for f in schema.fields])


def apply_delta_jdbc(delta: DataFrame, key_cols: list[str],
                     jdbc_options: dict[str, str], table: str,
                     use_merge: bool = True,
                     stage_table: str | None = None,
                     n_changed: int | None = None) -> dict:
    """Server-side incremental apply for a JDBC destination: stage the
    changed delta rows into a temp table with the BULK writer (the only
    corpus-sized movement — parallel batched INSERTs, exactly like any
    other JDBC write), then apply them with ONE set-based statement the
    warehouse executes where the data lives.

    ``use_merge=True`` emits ANSI/SQL:2003 MERGE (Derby — the live e2e
    harness — MySQL 8 via its MERGE-less path below, Postgres 15+,
    Oracle, BigQuery all speak a dialect of it):

      MERGE INTO target t USING stage s ON <null-safe key equality>
      WHEN MATCHED AND s.change_type = 'delete' THEN DELETE
      WHEN MATCHED AND s.change_type = 'update' THEN UPDATE SET ...
      WHEN NOT MATCHED AND s.change_type = 'insert' THEN INSERT ...

    ``use_merge=False`` is the two-statement fallback for dialects
    without MERGE: DELETE every staged delete/update key, then INSERT
    the staged insert/update payloads — same end state, not atomic
    (disclosed; wrap in a transaction if the dialect allows).

    Dialect notes baked in from the live Derby runs: Spark's JDBC
    writers QUOTE column identifiers at CREATE time (so generated SQL
    quotes every column) but pass table names through unquoted (this
    module's convention — the engine case-folds them); string columns
    that Spark's dialect maps to CLOB (Derby) are not comparable, so
    string-typed KEY columns are compared through VARCHAR casts and the
    stage's change_type is created as VARCHAR via
    createTableColumnTypes. Statements run over a java.sql connection in
    the driver JVM — rows never cross it.

    Returns ``{'staged': n, 'applied': affected-row-count}``.
    """
    spark = delta.sparkSession
    changed = delta.filter(F.col("change_type") != "unchanged")
    payload_cols = [c for c in delta.columns
                    if c != "change_type" and c not in key_cols]
    str_cols = {name for name, t in delta.dtypes if t == "string"}
    stage = stage_table or f"{table}_dwms_stage"

    # bulk-stage the delta (drop/recreate: a stale stage from a failed
    # run must not leak schema or rows into this one). The stage name is
    # a FIXED derivative of the target (r15 review, disclosed): two
    # CONCURRENT syncs into the same target table would fight over one
    # stage — but concurrent MERGEs into one target are already a
    # caller-serialization contract (they deadlock or double-apply at
    # the engine level regardless of staging), so a unique-suffix stage
    # would hide, not fix, the real constraint. Sequential re-runs are
    # safe: overwrite drop/recreates, and the finally below drops the
    # stage even on a failed apply. dbtable, truncate
    # and the change_type DDL are set AFTER the options loop — module
    # convention (read_table/write_table do the same) so a stray
    # 'dbtable'/'createTableColumnTypes' in caller options cannot
    # redirect the staging write at a real table, and a caller-supplied
    # truncate=true cannot make the stage overwrite KEEP a stale schema
    # from an earlier failed run instead of drop/recreating it
    writer = changed.write.format("jdbc").mode("overwrite")
    for k, v in jdbc_options.items():
        writer = writer.option(k, v)
    writer = (writer.option("dbtable", stage)
              .option("truncate", "false")
              .option("createTableColumnTypes",
                      "change_type VARCHAR(16)"))
    writer.save()
    # callers that already counted the delta pass it in; only ad-hoc use
    # pays the extra action
    n_staged = changed.count() if n_changed is None else n_changed

    def q(c: str) -> str:
        return '"' + c + '"'

    def keyeq(c: str, left: str = "t") -> str:
        t, s = f"{left}.{q(c)}", f"s.{q(c)}"
        if c in str_cols:  # CLOB-mapped columns are incomparable raw
            t = f"CAST({t} AS VARCHAR(32672))"
            s = f"CAST({s} AS VARCHAR(32672))"
        return (f"({t} = {s} OR "
                f"({left}.{q(c)} IS NULL AND s.{q(c)} IS NULL))")

    on = " AND ".join(keyeq(k) for k in key_cols)
    ins_cols = ", ".join(q(c) for c in key_cols + payload_cols)
    ins_vals = ", ".join(f"s.{q(c)}" for c in key_cols + payload_cols)
    if use_merge:
        sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in payload_cols)
        upd = (f"WHEN MATCHED AND s.{q('change_type')} = 'update' "
               f"THEN UPDATE SET {sets} " if payload_cols else "")
        stmts = [
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            f"WHEN MATCHED AND s.{q('change_type')} = 'delete' THEN DELETE "
            + upd +
            f"WHEN NOT MATCHED AND s.{q('change_type')} = 'insert' "
            f"THEN INSERT ({ins_cols}) VALUES ({ins_vals})"]
    else:
        on_t = " AND ".join(keyeq(k, left=table) for k in key_cols)
        stmts = [
            f"DELETE FROM {table} WHERE EXISTS (SELECT 1 FROM {stage} s "
            f"WHERE {on_t} AND s.{q('change_type')} IN ('delete', 'update'))",
            f"INSERT INTO {table} ({ins_cols}) "
            f"SELECT {ins_cols} FROM {stage} "
            f"WHERE {q('change_type')} IN ('insert', 'update')"]

    applied = 0
    jvm = spark._jvm
    if jdbc_options.get("driver"):
        jvm.java.lang.Class.forName(jdbc_options["driver"])
    props = jvm.java.util.Properties()
    for k, v in jdbc_options.items():
        # forward only CONNECTION properties: Spark-side writer/reader
        # options are not JDBC driver properties, and strict drivers
        # reject unknown keys at getConnection time
        if k.lower() not in _SPARK_ONLY_JDBC_KEYS:
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_options["url"], props)
    try:
        st = conn.createStatement()
        try:
            for sql in stmts:
                applied += st.executeUpdate(sql)
        finally:
            # the stage is scratch: drop it whether or not the MERGE
            # succeeded (a failed apply must not strand <table>_dwms_stage
            # for the next run's drop/recreate to trip over), and never
            # let the cleanup mask the real apply error
            try:
                st.executeUpdate(f"DROP TABLE {stage}")
            except Exception:  # noqa: BLE001 — cleanup is best-effort
                pass
            st.close()
    finally:
        conn.close()
    return {"staged": n_staged, "applied": applied}


def scd2_apply(history: DataFrame, updates: DataFrame,
               key_cols: list[str], tracked_cols: list[str],
               batch_date: str,
               from_col: str = "valid_from", to_col: str = "valid_to",
               cur_col: str = "is_current",
               close_deleted: bool = False) -> DataFrame:
    """Slowly-changing-dimension type 2: fold an update snapshot into a
    versioned history table, preserving every prior version.

    ``history`` carries ``key_cols`` + ``tracked_cols`` +
    (``from_col``, ``to_col``, ``cur_col``); ``updates`` carries
    ``key_cols`` + ``tracked_cols``. For each update key:

      * changed tracked payload — the current version closes
        (``to_col`` = ``batch_date``, ``cur_col`` = false) and a new
        current version opens at ``batch_date``;
      * new key — a first version opens;
      * identical payload — no-op (null-safe comparison, so
        NULL == NULL is unchanged).

    Keys absent from ``updates`` are untouched by default (partial
    snapshots); ``close_deleted=True`` treats ``updates`` as a FULL
    snapshot and closes their current versions without a successor.
    ``batch_date`` is an ISO date/timestamp string cast to ``from_col``'s
    existing type, so one operator serves date- and timestamp-grained
    histories.

    UNTRACKED payload columns (history columns beyond ``key_cols`` ∪
    ``tracked_cols`` ∪ bookkeeping) are carried onto new versions from
    ``updates`` when ``updates`` has them (standard SCD2 — type-1-style
    attributes ride along without participating in change detection);
    if ``updates`` lacks such a column, the call fails UP FRONT with a
    :class:`ConfigurationError` naming it, instead of the opaque
    union-time AnalysisException the r7 advisor flagged.

    Beyond-reference surface: the reference ships whole tables
    (``migrator.py:210-224``, append or overwrite) — history tracking is
    the warehouse-side feature its users hand-roll downstream. Built on
    ``snapshot_delta``'s classification join. 100 TB shape: two
    key-keyed shuffle joins (classification + close-marker) and a
    union — no collects, no windows, no UDFs; with history and updates
    bucketed on the key both exchanges vanish. History rows stay one
    pass; only delta-sized data moves twice.
    """
    # untracked payload columns ride along on new versions (sourced from
    # updates); change detection stays on tracked_cols only
    bookkeeping = {from_col, to_col, cur_col}
    extra = [c for c in history.columns
             if c not in set(key_cols) | set(tracked_cols) | bookkeeping]
    missing = [c for c in extra if c not in updates.columns]
    if missing:
        from data_warehouse_migrate_spark.exceptions import (
            ConfigurationError,
        )

        raise ConfigurationError(
            f"history carries untracked payload columns {missing} that "
            f"updates lacks — new versions would have no value for them. "
            f"Either include them in updates (they are carried through, "
            f"not compared), list them in tracked_cols, or drop them "
            f"from history.")

    cur = history.filter(F.col(cur_col))
    delta = snapshot_delta(
        updates.select(*key_cols, *tracked_cols, *extra),
        cur.select(*key_cols, *tracked_cols),
        key_cols, compare_cols=tracked_cols)

    close_types = ["update"] + (["delete"] if close_deleted else [])
    to_close = (delta.filter(F.col("change_type").isin(close_types))
                .select(*key_cols).withColumn("__close", F.lit(1)))

    h, m = history.alias("h"), to_close.alias("m")
    cond = None
    for k in key_cols:
        eq = F.col(f"h.{k}").eqNullSafe(F.col(f"m.{k}"))
        cond = eq if cond is None else cond & eq
    batch = F.lit(batch_date).cast(dict(history.dtypes)[from_col])
    closing = F.col(f"h.{cur_col}") & F.col("m.__close").isNotNull()
    kept = (h.join(m, cond, "left")
            .select(*[F.col(f"h.{c}") for c in history.columns
                      if c not in (to_col, cur_col)],
                    F.when(closing, batch).otherwise(F.col(f"h.{to_col}"))
                    .alias(to_col),
                    F.when(closing, F.lit(False))
                    .otherwise(F.col(f"h.{cur_col}")).alias(cur_col)))

    opened = (delta.filter(F.col("change_type").isin("insert", "update"))
              .select(*key_cols, *tracked_cols, *extra)
              .withColumn(from_col, batch)
              .withColumn(to_col, F.lit(None).cast(dict(history.dtypes)[to_col]))
              .withColumn(cur_col, F.lit(True)))
    return kept.unionByName(opened.select(*history.columns))
