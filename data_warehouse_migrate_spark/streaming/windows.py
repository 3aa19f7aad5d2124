"""Event-time operators: tumbling windows, sessionization, and the
Structured Streaming variant (beyond-reference — the reference has no
streaming at all, SURVEY.md §2.9).

``tumbling_window_agg``/``sessionize`` are batch DataFrame operators (the
same logical ops run under readStream unchanged);
``streaming_windowed_counts`` wires the real Structured Streaming job with
watermarking for late data — tested with a file source + availableNow
trigger.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# serializes the session-conf save/override/restore window around
# streaming-query starts (see run_sessionize_stream) — the only place
# the package mutates a session conf it must put back
_SESSION_CONF_LOCK = threading.Lock()


def tumbling_window_agg(df: DataFrame, ts_col: str, window: str = "1 hour",
                        group_cols: list[str] | None = None,
                        aggs: dict[str, str] | None = None) -> DataFrame:
    """Tumbling event-time windows with per-window aggregates.

    Output carries window_start/window_end as flat timestamp columns.
    Partial (map-side) aggregation applies automatically; the only shuffle
    is on (window, group) keys.
    """
    aggs = aggs or {"*": "count"}
    group_cols = group_cols or []
    exprs = []
    for col, how in aggs.items():
        name = f"{how}_{col}".replace("*", "all")
        if how == "count":
            exprs.append((F.count("*") if col == "*" else F.count(col)).alias(name))
        else:
            exprs.append(getattr(F, how)(col).alias(name))
    out = (df.groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
           .agg(*exprs))
    agg_names = [f"{how}_{col}".replace("*", "all") for col, how in aggs.items()]
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *group_cols, *agg_names)


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the user's previous event exceeds the gap. Returns per-session rows
    (user, session_id, session_start, session_end, n_events).

    Classic lag+cumsum windowing — one shuffle on user, then narrow.
    Deterministic, and expressible in ANSI SQL for the oracle.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    with_flag = df.withColumn(
        "__prev_ts", F.lag(ts_col).over(w)
    ).withColumn(
        "__new_session",
        # cast('double') keeps sub-second precision — unix_timestamp()
        # truncates to whole seconds, which can flip gaps that straddle
        # exactly gap_s against a fractional-seconds oracle (same bug
        # class as the as-of join tolerance). The intermediate
        # cast('timestamp') makes this NTZ-safe: parquet timestamp[us]
        # without timezone arrives as TIMESTAMP_NTZ (no direct numeric
        # cast); with the session pinned to UTC the NTZ→LTZ hop is a
        # constant offset, so gap DIFFERENCES are exact either way
        (F.col("__prev_ts").isNull() |
         (F.col(ts_col).cast("timestamp").cast("double")
          - F.col("__prev_ts").cast("timestamp").cast("double") > gap_s)
         ).cast("int"),
    ).withColumn("session_seq", F.sum("__new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (with_flag.groupBy(user_col, "session_seq")
            .agg(F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"),
                 F.count("*").alias("n_events"))
            .withColumnRenamed("session_seq", "session_id"))


def hypertable_rollup(df: DataFrame, ts_col: str,
                      group_cols: list[str] | None = None,
                      value_col: str | None = None,
                      grains: tuple[str, ...] = ("hour", "day")) -> DataFrame:
    """Hypertable-style continuous aggregate: per-grain time-bucket rollups
    (hour, day, …) computed in ONE pass via grouping sets — the scan and
    partial aggregation are shared across grains instead of one job per
    grain. Output: (grain, bucket_start, *group_cols, n_rows[, sum_value]).

    At scale this is the materialized-rollup write path: append the output
    partitioned by (grain, bucket_start) and queries hit the right grain.
    """
    group_cols = group_cols or []
    buckets = [F.date_trunc(g, F.col(ts_col)).alias(f"__b_{g}") for g in grains]
    aggs = [F.count("*").alias("n_rows")]
    if value_col:
        aggs.append(F.sum(F.col(value_col).cast("decimal(18,4)"))
                    .cast("double").alias("sum_value"))
    with_buckets = df.select(*df.columns, *buckets)
    all_cols = ([F.col(f"__b_{g}") for g in grains]
                + [F.col(c) for c in group_cols])
    sets = [[F.col(f"__b_{g}")] + [F.col(c) for c in group_cols]
            for g in grains]
    # identify the grain via grouping() — NOT column null-ness: a NULL
    # timestamp makes every bucket column NULL, which would collapse the
    # per-grain rows into indistinguishable (grain=NULL, bucket=NULL)
    # duplicates; grouping() reports set membership regardless of data
    # (and is only legal inside the aggregation, hence the __g_ columns)
    marks = [F.grouping(f"__b_{g}").alias(f"__g_{g}") for g in grains]
    rolled = with_buckets.groupingSets(sets, *all_cols).agg(*aggs, *marks)
    grain_expr = F.coalesce(*[
        F.when(F.col(f"__g_{g}") == 0, F.lit(g)) for g in grains])
    bucket_expr = F.coalesce(*[
        F.when(F.col(f"__g_{g}") == 0, F.col(f"__b_{g}"))
        for g in grains])
    return rolled.select(grain_expr.alias("grain"),
                         bucket_expr.alias("bucket_start"),
                         *group_cols, "n_rows",
                         *(["sum_value"] if value_col else []))


def merge_session_batch(micros, state: tuple | None, gap_us: int
                        ) -> tuple[list[tuple], tuple]:
    """Pure segmentation core of the stateful sessionizer — extracted so
    the vectorized logic is unit/property-testable without a streaming
    harness (tests/test_streaming_joins.py checks it against a naive
    per-event reference loop over adversarial inputs).

    ``micros``: SORTED int64 numpy array of event times (µs).
    ``state``: the open session ``(start, end, n)`` or None.
    Returns ``(closed_sessions, new_open_state)``; both sides use the
    same tuples.

    Semantics (the documented late-data contract): events within one gap
    before the open session extend it backwards; anything earlier is
    gap-sessionized among itself and emitted as already-closed earlier
    session(s); ``end`` never regresses. The common (no late data) case
    is fully vectorized: one numpy diff against the running-max end
    finds every gap boundary and whole sessions come out as array
    slices; the per-event Python loop survives only for rare late
    pre-session events.
    """
    import numpy as np

    closed: list[tuple] = []
    if state is not None:
        start, end, n = state
        orig_start = start
        pre = micros[micros < start]
        cur = None  # open pre-session [start, end, count]
        for t in pre:
            t = int(t)
            if cur is None:
                cur = [t, t, 1]
            elif t - cur[1] > gap_us:
                closed.append(tuple(cur))
                cur = [t, t, 1]
            else:
                cur[1], cur[2] = t, cur[2] + 1
        if cur is not None:
            if start - cur[1] <= gap_us:
                start, n = cur[0], n + cur[2]
            else:
                closed.append(tuple(cur))
        rest = micros[micros >= orig_start] if pre.size else micros
    else:
        if micros.size == 0:
            raise ValueError("merge_session_batch: empty batch, no state")
        start, end, n = int(micros[0]), int(micros[0]), 0
        rest = micros
    if rest.size:
        # gap test for element i is against the RUNNING MAX end so far
        # (state end never regresses past on-time events): with rest
        # sorted, that is max(state end, rest[i-1])
        prev_end = np.maximum.accumulate(
            np.concatenate(([end], rest)))[:-1]
        brk = np.flatnonzero(rest - prev_end > gap_us)
        seg_lo = np.concatenate(([0], brk))
        seg_hi = np.concatenate((brk, [rest.size]))
        for j, (lo, hi) in enumerate(zip(seg_lo, seg_hi)):
            if lo == hi:          # break at 0: the open session closes alone
                closed.append((start, end, n))
                continue
            if j == 0 and (brk.size == 0 or brk[0] != 0):
                # first segment continues the open session
                end = max(end, int(rest[hi - 1]))
                n += hi - lo
            else:
                start, end, n = int(rest[lo]), int(rest[hi - 1]), hi - lo
            if hi != rest.size:   # every segment but the last closes
                closed.append((start, end, n))
    return closed, (int(start), int(end), int(n))


def sessionize_stream(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", gap_minutes: int = 30) -> DataFrame:
    """Custom STATEFUL streaming operator: gap-based sessionization over a
    streaming DataFrame via ``applyInPandasWithState``.

    Per user, state holds the currently-open session (start/end/count as
    epoch-micros). Each micro-batch merges its events into the open
    session, EMITS sessions closed by a gap, and re-arms a processing-time
    timeout of one gap — when the user goes quiet, the timeout fires and
    flushes the final session. This is the bounded-state 100 TB shape:
    state per key is three longs, independent of event volume.

    Late data: events within one gap before the open session extend it
    backwards; anything earlier is gap-sessionized among itself and
    emitted as already-closed earlier session(s) — a very late burst
    never inflates the open session's duration.

    Append-mode caveat (tested): a terminating ``availableNow`` run emits
    only gap-closed sessions — each user's still-open tail session stays
    in state because no further batch fires its timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    # the key column keeps ITS OWN type — hardcoding 'long' here broke
    # string/UUID user ids at the Arrow conversion
    user_t = events.schema[user_col].dataType.simpleString()
    out_schema = (f"{user_col} {user_t}, session_start timestamp, "
                  f"session_end timestamp, n_events long")
    state_schema = "start long, end long, n long"

    def fn(key, pdf_iter, state: GroupState):
        # HOT PATH: runs once per (user, micro-batch) — thousands of
        # invocations per batch. The segmentation itself lives in
        # merge_session_batch (module-level, property-tested); measured
        # at sf0.1 the old per-event loop spent ~1.8s/batch in
        # interpretation, the vectorized core ~1.0s.
        import numpy as np

        user = key[0]
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame({user_col: [user],
                                "session_start": [pd.Timestamp(start, unit="us")],
                                "session_end": [pd.Timestamp(end, unit="us")],
                                "n_events": [n]})
            return
        ts_parts = [pdf[ts_col] for pdf in pdf_iter]
        if not ts_parts:
            return
        ts = ts_parts[0] if len(ts_parts) == 1 else pd.concat(ts_parts)
        # belt-and-braces twin of the pre-exchange isNotNull filter: a
        # NaT that slipped through converts to int64 min below, not NaN
        ts = ts.dropna()
        if ts.empty:
            return
        # normalize to ns first — Arrow may deliver datetime64[us], whose
        # int64 view is µs, silently breaking the //1000 below
        micros = np.sort(
            ts.astype("datetime64[ns]").astype("int64").to_numpy() // 1000)
        closed, new_state = merge_session_batch(
            micros, state.get if state.exists else None, gap_us)
        state.update(new_state)
        state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if closed:
            sc = np.array([s for s, _, _ in closed], dtype="int64")
            ec = np.array([e for _, e, _ in closed], dtype="int64")
            yield pd.DataFrame({
                user_col: [user] * len(closed),
                "session_start": pd.to_datetime(sc, unit="us"),
                "session_end": pd.to_datetime(ec, unit="us"),
                "n_events": [c for _, _, c in closed],
            })

    # narrow BEFORE the stateful exchange: the operator reads only
    # (user, ts), so any other event column would ride the shuffle and
    # the Arrow->Python transfer for nothing — at 100 TB that's the
    # difference between shuffling two columns and shuffling the table.
    # NULL-timestamp events are dropped here (a NULL event time belongs
    # to no session — the package's standing temporal-NULL contract):
    # inside the stateful fn a NaT converts to the int64-min sentinel
    # and would enter state as an epoch ~-292,000-years "event", then
    # raise OutOfBoundsDatetime when the garbage session is emitted
    # (r15 review); the filter also reaches the scan as a pushed
    # IsNotNull on NULL-free sources, costing nothing.
    return (events.select(user_col, ts_col)
            .filter(F.col(ts_col).isNotNull()).groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def snapshot_memory_sink(spark: SparkSession, sink: str) -> DataFrame:
    """Materialize a memory-sink temp view into a local-relation
    DataFrame and DROP the view (r15 review). ``spark.table(sink)`` is
    lazy, so returning it directly (the runners' old shape) (a) pinned
    every invocation's full result set in driver memory for the
    session's lifetime — a long session calls these runners repeatedly —
    and (b) was not the snapshot its name promised: anything reusing
    the view name later silently swaps the data under the returned
    frame. The memory sink already holds all rows in the driver, so
    the collect copies bounded data the sink was sized for anyway."""
    view = spark.table(sink)
    try:
        # Arrow round-trip: measured 3.4x faster than the Row-object
        # path at ~94k sessions (sf0.1 sessionize output) — the
        # per-Row Python conversion is the slow axis, and this helper
        # sits inside every timed streaming query
        pdf = view.toPandas()
        snap = spark.createDataFrame(pdf, schema=view.schema)
    except Exception:  # exotic types — correctness over speed
        snap = spark.createDataFrame(view.collect(), view.schema)
    spark.catalog.dropTempView(sink)
    return snap


def run_sessionize_stream(spark: SparkSession, source_path: str,
                          user_col: str = "user_id", ts_col: str = "ts",
                          gap_minutes: int = 30,
                          wait_sec: int = 120,
                          state_partitions: int | None = 16,
                          max_files_per_trigger: int | None = None
                          ) -> DataFrame:
    """Execute ``sessionize_stream`` end-to-end over a parquet file source
    (availableNow trigger, memory sink) and return the GAP-CLOSED sessions
    as a batch DataFrame.

    Termination: the stateful operator registers processing-time timers
    that keep the query alive after the source drains (they exist to flush
    still-open sessions on a long-running stream), so ``awaitTermination``
    would block for a full gap — instead wait until the input rows have
    been processed and stop the query. Consequence (the documented append
    contract): each user's final still-open session is NOT emitted; the
    batch-twin oracle is ``sessionize`` minus each user's last session.

    ``state_partitions`` pins the stream's shuffle-partition count at
    START time (a streaming query's state layout is fixed by the conf it
    starts under; restored after). This one-shot drain runs ONE
    micro-batch, so each extra partition buys a state-store instance +
    an Arrow worker round-trip but no useful parallelism beyond the key
    spread — 16 measured ~15% faster than 32 at sf0.1 (r7; RocksDB vs
    HDFS provider was also measured: 2.25s vs 2.12s min — no win at
    KB-scale state, HDFS kept). A long-running production stream should
    size this to its key cardinality instead (None = leave the session
    conf alone).

    ``max_files_per_trigger`` caps files per micro-batch (availableNow
    honors source rate limits, so a multi-file source splits into
    multiple batches).
    """
    import os
    import time as _time
    import uuid

    from data_warehouse_migrate_spark.sources.readers import (
        normalize_nano_timestamps,
        open_file_stream,
        parquet_footer_stats,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = open_file_stream(
        spark, source_path,
        **({"maxFilesPerTrigger": str(max_files_per_trigger)}
           if max_files_per_trigger else {}))
    # expected-row target from parquet FOOTERS (driver-side metadata, no
    # Spark job); fall back to a count for non-local / non-stat paths
    try:
        expected = int(parquet_footer_stats(source_path)["n_rows"])
    except Exception:
        expected = spark.read.schema(stream.schema).parquet(
            source_path).count()
    stream = normalize_nano_timestamps(stream, [ts_col])
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    out = sessionize_stream(stream, user_col, ts_col, gap_minutes)
    sink = f"dwms_stream_sess_{uuid.uuid4().hex[:12]}"
    # ephemeral RAM-backed checkpoint for the one-shot drain: this helper
    # never restarts the query, so WAL + state-commit durability buys
    # nothing and their file IO is pure overhead (~0.2s of the ~2s batch
    # at sf0.1, measured r7). A PRODUCTION stream must point its own
    # writeStream at durable storage — this shortcut is only sound
    # because the query dies with the function.
    ckpt_dir = None
    if os.path.isdir("/dev/shm"):
        ckpt_dir = f"/dev/shm/dwms_ck_{uuid.uuid4().hex[:12]}"
    writer = (out.writeStream.format("memory").queryName(sink)
              .outputMode("append").trigger(availableNow=True))
    if ckpt_dir:
        writer = writer.option("checkpointLocation", ckpt_dir)
    if state_partitions:
        # the capture/set/start/restore of the SESSION-shared shuffle-
        # partition conf must be atomic across threads (r16): two
        # concurrent runner calls interleaving here would capture each
        # other's override as "previous" and permanently re-point the
        # session's conf (A saves 32→sets 16; B saves 16; A restores 32;
        # B restores 16). The lock covers only query START — a streaming
        # query's state layout is fixed by the conf it starts under —
        # so drains still overlap freely.
        with _SESSION_CONF_LOCK:
            prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(state_partitions))
            try:
                q = writer.start()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    else:
        q = writer.start()
    # recentProgress is a RING BUFFER (default cap 100 entries): a drain
    # with more micro-batches than the cap would evict early entries and
    # a plain sum could never reach `expected`, timing out a fully
    # drained query (r15 review). Accumulating per-batchId across polls
    # is eviction-proof at the 50ms poll cadence.
    seen_batch_rows: dict = {}

    def _processed() -> int:
        for p in (q.recentProgress or []):
            seen_batch_rows[p["batchId"]] = p["numInputRows"]
        return sum(seen_batch_rows.values())

    try:
        deadline = _time.time() + wait_sec
        processed = 0
        while _time.time() < deadline:
            processed = _processed()
            if processed >= expected:
                break
            if q.exception() is not None:  # crashed — don't wait the clock
                failure = q.exception()
                q.stop()
                raise failure
            # fine-grained poll: the drain is a single ~2s micro-batch,
            # so a coarse sleep adds up to its whole interval of dead
            # time between batch commit and the stop below
            _time.sleep(0.05)
        else:
            # deadline expired: re-read once (rows may have landed during
            # the final sleep), then fail loudly — stopping here and
            # returning the memory sink would silently hand back PARTIAL
            # results (only the sessions emitted so far). A CRASHED query
            # also presents as stalled progress, so surface its real
            # exception instead of misdiagnosing it as a timeout.
            processed = _processed()
            if processed < expected:
                failure = q.exception()
                q.stop()
                if failure is not None:
                    raise failure
                raise TimeoutError(
                    f"sessionize stream processed {processed}/{expected} "
                    f"input rows within wait_sec={wait_sec}s; raise "
                    f"wait_sec — returning the partial sink would "
                    f"silently drop sessions")
        # stop() interrupts whatever timer-scheduled (empty) micro-batch
        # is in flight; that interrupt costs 0-1s depending on where the
        # batch is in its commit. Waiting for a trigger GAP was measured
        # r8 and rejected: the registered processing-time timers fire
        # batches back-to-back, so the gap never opens and the wait is
        # pure added latency.
        q.stop()
        q.awaitTermination(60)
    finally:
        if ckpt_dir:
            import shutil

            shutil.rmtree(ckpt_dir, ignore_errors=True)
    return snapshot_memory_sink(spark, sink)


def run_windowed_counts_stream(spark: SparkSession, source_path: str,
                               ts_col: str = "ts",
                               window: str = "1 hour",
                               group_col: str = "event_type",
                               value_col: str = "value") -> DataFrame:
    """Execute a complete-mode Structured Streaming windowed aggregation
    over a file source and return the final result as a batch DataFrame
    (memory sink, availableNow trigger — runs the real streaming engine,
    terminates when the source is exhausted).

    Complete mode emits every window, so the result equals the batch
    tumbling-window aggregation — which is what the DuckDB oracle checks.
    Decimal sums keep the float aggregation order-independent."""
    from data_warehouse_migrate_spark.sources.readers import (
        normalize_nano_timestamps,
        open_file_stream,
    )

    # defensive: see queries._t — the caller's session may lack these
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = normalize_nano_timestamps(open_file_stream(spark, source_path),
                                       [ts_col])
    agg = (stream.groupBy(F.window(F.col(ts_col), window).alias("w"), group_col)
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col(value_col).cast("decimal(18,4)")).alias("sum_dec"))
           .select(F.col("w.start").alias("window_start"), group_col,
                   "n_events", F.col("sum_dec").cast("double").alias("sum_value")))
    # unique sink per invocation (r15 review): a fixed name collides
    # across concurrent calls — the second start() fails with "query
    # with that name is already active" — and silently swaps an earlier
    # call's result table otherwise (the hazard streaming/dedup.py
    # documents); every sibling runner already uses a per-call name
    import uuid as _uuid

    sink = f"dwms_stream_wc_{_uuid.uuid4().hex[:12]}"
    q = (agg.writeStream.format("memory").queryName(sink)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return snapshot_memory_sink(spark, sink)


def streaming_windowed_counts(spark: SparkSession, source_path: str,
                              schema, ts_col: str = "ts",
                              window: str = "1 hour",
                              group_col: str = "event_type",
                              watermark: str = "2 hours",
                              fmt: str = "parquet",
                              value_col: str = "value"):
    """Structured Streaming job: file source → watermark → windowed counts.

    Returns the streaming DataFrame; callers attach
    ``.writeStream.trigger(availableNow=True)`` (tests) or a continuous
    trigger (production). The watermark bounds state for late data — the
    canonical 100 TB streaming-agg shape. The sum runs in DECIMAL so the
    result is independent of partition/merge order (the same contract as
    ``run_windowed_counts_stream``).
    """
    # withWatermark requires TIMESTAMP (LTZ) — parquet timestamp[us]
    # without timezone arrives as TIMESTAMP_NTZ; the session is pinned to
    # UTC so this cast is a constant (zero) offset on event time
    # normalize BEFORE the cast (r15 review): sibling runners pin
    # spark.sql.legacy.parquet.nanosAsLong session-wide, so the repo's
    # nanos-timestamp parquet reads ts back as BIGINT — a blind
    # cast('timestamp') on epoch-nanos longs overflows under ANSI or
    # silently reads nanos as seconds (the exact bug the dedup module's
    # comment warns about); normalize_nano_timestamps is a no-op on
    # schemas whose ts is already a timestamp
    from data_warehouse_migrate_spark.sources.readers import (
        normalize_nano_timestamps,
    )

    stream = (normalize_nano_timestamps(
                  spark.readStream.format(fmt).schema(schema)
                  .load(source_path), [ts_col])
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark))
    return (stream
            .groupBy(F.window(F.col(ts_col), window).alias("w"), group_col)
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col(value_col).cast("decimal(18,4)"))
                 .cast("double").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    group_col, "n_events", "sum_value"))
