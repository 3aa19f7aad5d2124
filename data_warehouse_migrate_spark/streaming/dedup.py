"""Streaming exact deduplication — dedup at ingestion time, the shape an
LLM-data pipeline actually runs (beyond-reference: the reference has no
streaming at all, SURVEY.md §2.9; batch dedup lives in
``operators/dedup.py``).

Spark-first: built on the engine's native streaming-dedup state store
(``dropDuplicatesWithinWatermark``), not a hand-rolled stateful UDF — the
state is one (key, event-time) entry per distinct document, maintained by
the HDFS-backed state store with watermark eviction, which survives
restarts via checkpointing and scales horizontally with the key-hash
shuffle. A custom ``applyInPandasWithState`` variant would re-implement
exactly that, slower.

100 TB shape: streaming dedup holds state only for the WATERMARK HORIZON
(dedup against the recent past — the common crawl-ingest contract);
full-history dedup is the batch operator (one hash-groupBy over the
corpus, rerun per snapshot). Key the state on the 128-bit md5 of the
normalized text, never the text itself: state rows stay fixed-width no
matter how large documents get.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_migrate_spark.functions.text import normalized_text


def dedup_exact_stream(docs: DataFrame, text_col: str = "text",
                       ts_col: str | None = None,
                       watermark: str = "24 hours") -> DataFrame:
    """Keep the first arrival of each normalized text on a STREAMING
    DataFrame; duplicates that arrive within the watermark horizon of the
    original are dropped.

    With ``ts_col``: watermark-bounded — state for a document is evicted
    once the watermark passes its event time plus the horizon, so state
    size tracks the horizon's distinct-document rate, not stream lifetime
    (the only viable contract for an unbounded crawl). A duplicate
    arriving AFTER the horizon re-emits — by design: horizon dedup.

    Without ``ts_col``: plain ``dropDuplicates`` on the hash — exact
    global dedup with state that grows one fixed-width row per distinct
    document, acceptable for bounded backfills only (disclosed trade).

    The added ``text_hash`` column is kept in the output (downstream
    stages join/dedup on it; it is the batch operator's group key too).
    """
    from data_warehouse_migrate_spark.sources.readers import (
        normalize_nano_timestamps,
    )

    hashed = docs.withColumn("text_hash",
                             F.md5(normalized_text(text_col)))
    if ts_col is None:
        return hashed.dropDuplicates(["text_hash"])
    # epoch-nanos long columns (the nanosAsLong read this module itself
    # configures) must convert via exact decimal division FIRST — a blind
    # cast('timestamp') would interpret the nanos as SECONDS (overflow
    # under ANSI, garbage event time without)
    hashed = normalize_nano_timestamps(hashed, [ts_col])
    return (hashed
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def run_dedup_exact_stream(spark: SparkSession, source_path: str,
                           text_col: str = "text",
                           ts_col: str | None = None,
                           watermark: str = "24 hours",
                           prepare=None) -> DataFrame:
    """Execute ``dedup_exact_stream`` end-to-end over a parquet file
    source (availableNow trigger, memory sink — the real streaming engine,
    terminating when the source drains) and return the surviving rows as a
    batch DataFrame. Mirrors ``windows.run_windowed_counts_stream``.

    ``prepare``: optional DataFrame→DataFrame transform applied to the
    stream before dedup (e.g. deriving an event-time column when the
    source has none)."""
    from data_warehouse_migrate_spark.sources.readers import open_file_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = open_file_stream(spark, source_path)
    if prepare is not None:
        stream = prepare(stream)
    deduped = dedup_exact_stream(stream, text_col, ts_col, watermark)
    # unique sink per invocation: a fixed name collides across concurrent
    # calls and silently swaps an earlier call's result table
    import uuid

    sink = f"dwms_stream_dedup_{uuid.uuid4().hex[:12]}"
    q = (deduped.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    # snapshot + drop the sink view: returning spark.table(sink) leaked
    # one full result copy in driver memory per invocation (r15 review)
    from data_warehouse_migrate_spark.streaming.windows import (
        snapshot_memory_sink,
    )

    return snapshot_memory_sink(spark, sink)
