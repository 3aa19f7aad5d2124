"""SparkSession factory tuned for the engine.

The reference does case-insensitive column matching everywhere
(reference ``migrator.py:595-614,703-728``); we mirror that with
``spark.sql.caseSensitive=false`` (Spark's default) plus explicit lowercase
matching in metadata code.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), adaptive broadcast, Arrow for any pandas interchange. Shuffle
partitions default to the local core count for tests but should be sized to
~2-3× total executor cores on a real cluster; AQE coalesces the excess.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for local[N] testing; on a 1000-executor cluster the same configs hold
# except shuffle.partitions, which AQE re-coalesces from a higher initial value.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce by SIZE (advisoryPartitionSizeInBytes), not down to
    # defaultParallelism: with the default (true) every tiny shuffle keeps
    # cores× ~KB tasks whose fixed overhead dominates; size-based targets
    # scale with the data instead of the machine (r17 interleaved A/B,
    # 10-query expensive subset: 9/10 query mins improved, total -11%)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold (skips the two sorts; AQE skew-join still splits
    # oversized partitions for both strategies, and SHJ spills since
    # Spark 3.x). Guide-recommended baseline; r17 interleaved A/B on the
    # 10 most expensive registry queries: 8/10 mins improved, total -8%,
    # the two losses sub-noise (<25 ms)
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # list up to 1024 partition directories on the driver instead of in a
    # Spark job with one task per directory (default threshold 32): a
    # read_table of 48 dt= directories took 0.37-0.49 s median → 0.10-0.11 s,
    # of 730 (two years of days) 2.6-3.2 s → 0.13-0.14 s, local[4] on a
    # 4-core host, 8 reads per setting, two interleaved rounds
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    "spark.sql.caseSensitive": "false",
    # parquet TIMESTAMP(NANOS) (e.g. pandas-written event tables) has no
    # Spark timestamp equivalent — read as long nanos, convert explicitly
    # via readers.nanos_to_timestamp
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "data-warehouse-migrate-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` ONLY when no
    cluster manager already supplied one: under ``spark-submit --master
    yarn/k8s`` the submitted ``spark.master`` wins (forcing local[] there
    would silently run a cluster job single-node on the driver host).
    Env-derived settings (cpus, driver memory) are read at CALL time so a
    harness that sets them after import still takes effect.
    """
    from pyspark import SparkConf

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    # local[N] runs the whole engine in the driver JVM. 8g measured FASTER
    # and steadier than 24g at sf0.1 (24g ran the query registry 3-5×
    # slower — large G1 heaps accumulate garbage and stall all 32 task
    # threads in long mixed collections); keep the heap small enough for
    # short GC cycles.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                 "8g")
    conf["spark.sql.shuffle.partitions"] = cpus
    # DELIBERATELY NO spark.sql.files.minPartitionNum floor: a session-
    # wide scan-split floor was A/B'd in r8 (headline set, floor on/off
    # interleaved, best-of-2 per query) and LOST ~5% net at sf0.1 —
    # 32 range-splits of a small parquet file schedule 32 tasks but
    # row-group alignment yields only 1-3 real splits, so the per-task
    # overhead (footer read, codegen instance) outweighs the parallelism
    # everywhere except operators with EXTREME per-row CPU. Those spread
    # themselves at the operator level instead (entity.fuzzy_join's
    # explicit-width key-dedup exchange, skew.spread_input: measured
    # 3.6x on the d=2 variant explode); a production multi-file table
    # has natural splits and needs neither.
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
