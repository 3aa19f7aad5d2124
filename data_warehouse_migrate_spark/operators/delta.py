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
and the join only counts the changes. The SCD2 fold (``scd2_apply``)
marks the versions it opens, closes, rewrites and removes as it builds
the next history, so a sync applies its changes without diffing that
history again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.sqltext import (
    ident,
    project,
    sql_string,
    sql_type,
)

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
    s = source.selectExpr("*", "1 AS __in_s").alias("s")
    d = dest.selectExpr("*", "1 AS __in_d").alias("d")
    joined = s.join(d, F.expr(_keys_match("s", "d", key_cols)), "full_outer")

    changed = " OR ".join(f"NOT (s.{ident(c)} <=> d.{ident(c)})"
                          for c in compare_cols) or "FALSE"
    in_s, in_d = "(s.__in_s IS NOT NULL)", "(d.__in_d IS NOT NULL)"
    change = (f"CASE WHEN {in_s} AND NOT {in_d} THEN 'insert' "
              f"WHEN NOT {in_s} AND {in_d} THEN 'delete' "
              f"WHEN {changed} THEN 'update' ELSE 'unchanged' END")
    out = [(k, f"coalesce(s.{ident(k)}, d.{ident(k)})") for k in key_cols]
    out += [(c, f"s.{ident(c)}") for c in source.columns
            if c not in key_cols]
    return project(joined, [*out, ("change_type", change)])


def _keys_match(left: str, right: str, key_cols: list[str]) -> str:
    """Null-safe equality of ``key_cols`` between two aliased sides."""
    return " AND ".join(f"{left}.{ident(k)} <=> {right}.{ident(k)}"
                        for k in key_cols)


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
    moves = delta.filter("change_type IN ('delete', 'update')")
    dd = dest.alias("dd")
    mm = moves.selectExpr(*map(ident, key_cols)).alias("mm")
    keep = dd.join(mm, F.expr(_keys_match("dd", "mm", key_cols)), "left_anti")
    return keep.unionByName(_upserts(dest, delta))


def _upserts(dest: DataFrame, delta: DataFrame) -> DataFrame:
    """The insert/update rows of ``delta`` in ``dest``'s columns."""
    return (delta.filter("change_type IN ('insert', 'update')")
            .selectExpr(*map(ident, dest.columns)))


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
    return project(source, [
        (f.name, f"CAST({ident(f.name)} AS {sql_type(f.dataType)})")
        for f in schema.fields])


def _jdbc_connection(spark: SparkSession, jdbc_options: dict[str, str]):
    """A ``java.sql`` connection in the driver JVM, which the caller
    closes. Only connection properties are forwarded: strict drivers
    reject Spark's reader/writer options at ``getConnection`` time."""
    jvm = spark._jvm
    if jdbc_options.get("driver"):
        jvm.java.lang.Class.forName(jdbc_options["driver"])
    props = jvm.java.util.Properties()
    for k, v in jdbc_options.items():
        if k.lower() not in _SPARK_ONLY_JDBC_KEYS:
            props.setProperty(k, v)
    return jvm.java.sql.DriverManager.getConnection(jdbc_options["url"], props)


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

    # bulk-stage the delta, drop/recreating the stage so a failed run's
    # schema or rows cannot leak in. Its name is a FIXED derivative of
    # the target: concurrent MERGEs into one target already need the
    # caller to serialize them, which a unique stage name would hide,
    # not fix; sequential re-runs are safe, as the finally below drops
    # the stage even when the apply fails. dbtable, truncate and the
    # change_type DDL are set AFTER the options loop (as read_table and
    # write_table do), so caller options cannot redirect the stage at a
    # real table or keep a stale schema
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
    conn = _jdbc_connection(spark, jdbc_options)
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
        current version opens at ``batch_date``; if the current version
        itself opened at ``batch_date``, its payload is rewritten in
        place instead;
      * new key — a first version opens;
      * identical payload — no-op (null-safe comparison, so
        NULL == NULL is unchanged).

    Keys absent from ``updates`` are untouched by default (partial
    snapshots); ``close_deleted=True`` treats ``updates`` as a FULL
    snapshot and closes their current versions without a successor,
    removing a version that opened at ``batch_date``. So (key,
    ``from_col``) stays unique and no version is the empty interval
    ``[batch_date, batch_date)``. ``batch_date`` is an ISO
    date/timestamp string cast to ``from_col``'s existing type, so one
    operator serves date- and timestamp-grained histories.

    UNTRACKED payload columns (history columns beyond ``key_cols`` ∪
    ``tracked_cols`` ∪ bookkeeping) are carried onto new versions from
    ``updates`` when ``updates`` has them (standard SCD2 — type-1-style
    attributes ride along without participating in change detection);
    if ``updates`` lacks such a column, the call fails UP FRONT with a
    :class:`ConfigurationError` naming it, instead of the opaque
    union-time AnalysisException the r7 advisor flagged.

    Beyond-reference surface: the reference ships whole tables
    (``migrator.py:210-224``, append or overwrite) — history tracking is
    the warehouse-side feature its users hand-roll downstream. 100 TB
    shape: one key-keyed shuffle join of the current versions and
    updates and a generator — no collects, no windows, no UDFs; with
    history and updates bucketed on the key the exchange vanishes.

    ``batch_date`` must be no earlier than any date in ``history``: an
    earlier one would close a version before it opened and could open a
    second version of a key from one date. ``MigrationJob.run_scd2``
    refuses such a batch before it writes.
    """
    return (_scd2_marked(history, updates, key_cols, tracked_cols,
                         batch_date, from_col, to_col, cur_col,
                         close_deleted)
            .filter("change_type <> 'delete'").drop("change_type"))


def _scd2_marked(history: DataFrame, updates: DataFrame,
                 key_cols: list[str], tracked_cols: list[str],
                 batch_date: str, from_col: str, to_col: str, cur_col: str,
                 close_deleted: bool) -> DataFrame:
    """:func:`scd2_apply`'s next history, plus the versions it removes,
    with the ``change_type`` of each version keyed by (key,
    ``from_col``): 'insert' if this batch opens it, 'update' if it
    closes it or rewrites it in place, 'delete' if it removes it, else
    'unchanged' — a delta ``apply_delta_jdbc`` applies as it stands.

    A version that opened at ``batch_date`` is never closed: a change
    rewrites its payload in place and ``close_deleted`` removes it. The
    version ``[batch_date, batch_date)`` that closing it would leave
    contains no instant, so no as-of answer changes.

    One join: the current versions FULL OUTER JOIN updates on the key,
    each joined row emitting its versions through ``inline``; the
    versions closed before this batch, which no update can touch, skip
    the join and come out 'unchanged'."""
    # untracked payload columns ride along on new versions (sourced from
    # updates); change detection stays on tracked_cols only
    bookkeeping = {from_col, to_col, cur_col}
    extra = [c for c in history.columns
             if c not in set(key_cols) | set(tracked_cols) | bookkeeping]
    missing = [c for c in extra if c not in updates.columns]
    if missing:
        from data_warehouse_migrate_spark.exceptions import ConfigurationError

        raise ConfigurationError(
            f"history carries untracked payload columns {missing} that "
            f"updates lacks — new versions would have no value for them. "
            f"Either include them in updates (they are carried through, "
            f"not compared), list them in tracked_cols, or drop them "
            f"from history.")

    carried = [*key_cols, *tracked_cols, *extra]
    current = f"{ident(cur_col)} IS TRUE"
    # presence markers, as in snapshot_delta: a NULL key is still a key
    h = history.filter(current).selectExpr("*", "TRUE AS __in_h").alias("h")
    u = updates.selectExpr(*map(ident, carried), "TRUE AS __in_u").alias("u")
    joined = h.join(u, F.expr(_keys_match("h", "u", key_cols)), "full_outer")

    dtypes = dict(history.dtypes)
    batch = f"CAST({sql_string(batch_date)} AS {dtypes[from_col]})"
    in_h, in_u = "(h.__in_h IS NOT NULL)", "(u.__in_u IS NOT NULL)"
    diff = " OR ".join(f"NOT (h.{ident(c)} <=> u.{ident(c)})"
                       for c in tracked_cols) or "FALSE"
    changed = f"({in_h} AND {in_u} AND ({diff}))"
    closes = f"({changed} OR ({in_h} AND NOT {in_u} AND {close_deleted}))"
    same = f"(h.{ident(from_col)} = {batch})"

    def version(values: dict[str, str]) -> str:
        """A version as a struct: ``values`` by column, else history's."""
        return "named_struct({})".format(", ".join(
            f"{sql_string(c)}, {values.get(c, f'h.{ident(c)}')}"
            for c in [*history.columns, "change_type"]))

    old = version({to_col: f"CASE WHEN {closes} THEN {batch} "
                           f"ELSE h.{ident(to_col)} END",
                   cur_col: f"NOT {closes}",
                   "change_type": f"CASE WHEN {closes} AND {same} THEN "
                                  f"'delete' WHEN {closes} THEN 'update' "
                                  f"ELSE 'unchanged' END"})
    new = version({**{c: f"u.{ident(c)}" for c in carried},
                   from_col: batch,
                   to_col: f"CAST(NULL AS {dtypes[to_col]})",
                   cur_col: "TRUE",
                   "change_type": f"CASE WHEN {same} THEN 'update' "
                                  f"ELSE 'insert' END"})
    return joined.selectExpr(
        f"inline(CASE WHEN NOT {in_h} OR ({changed} AND {same}) "
        f"THEN array({new}) WHEN {changed} THEN array({old}, {new}) "
        f"ELSE array({old}) END)").unionByName(
        history.filter(f"NOT ({current})")
        .selectExpr("*", "'unchanged' AS change_type"))
