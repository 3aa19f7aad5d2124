"""CLI mirroring the reference's flag surface (reference ``cli.py:18-106``),
argparse-based (no external deps).

Example:
    python -m data_warehouse_migrate_spark.cli \
        --source-path /root/testdata/sf0.001/orders.parquet \
        --destination-path /tmp/orders_out --mode overwrite --dry-run
"""

from __future__ import annotations

import argparse
import json
import logging
import sys

from data_warehouse_migrate_spark.config import (
    env_config,
    load_config_file,
    load_dotenv,
    merge_config,
)
from data_warehouse_migrate_spark.migrate import job_from_config
from data_warehouse_migrate_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="data-warehouse-migrate-spark",
        description="PySpark-native table migration (scan → cast → map → constrain → write)")
    p.add_argument("--config", help="JSON config file (env ${VAR} expansion supported)")
    p.add_argument("--source-path", dest="source_path")
    p.add_argument("--source-format", dest="source_format",
                   choices=["parquet", "csv", "json", "orc", "jdbc", "table"])
    p.add_argument("--source-table-name", dest="source_table_name",
                   help="logical table name used for per-table mapping selection")
    p.add_argument("--destination-path", dest="destination_path")
    p.add_argument("--destination-format", dest="destination_format",
                   choices=["parquet", "csv", "json", "orc", "jdbc", "table"])
    p.add_argument("--mode", choices=["append", "overwrite"])
    p.add_argument("--limit", type=int)
    p.add_argument("--partition-columns", dest="source_partition_columns",
                   help="comma-separated source partition columns (latest-partition pruning)")
    p.add_argument("--non-nullable", help="comma-separated non-nullable destination columns")
    p.add_argument("--null-policy", dest="null_on_non_nullable",
                   choices=["fail", "fill", "skip"])
    p.add_argument("--dry-run", dest="dry_run", action="store_const", const=True,
                   default=None)
    p.add_argument("--stream", dest="stream", action="store_const", const=True,
                   default=None,
                   help="continuous/incremental migration: run the mapping "
                        "chain as a Structured Streaming job over the source "
                        "directory (requires --checkpoint; availableNow "
                        "catch-up unless --processing-time is given)")
    p.add_argument("--checkpoint", dest="checkpoint",
                   help="streaming checkpoint directory (tracks processed "
                        "source files across runs)")
    p.add_argument("--processing-time", dest="processing_time",
                   help='always-on trigger interval, e.g. "30 seconds" '
                        "(default: drain available files, then stop)")
    p.add_argument("--incremental-keys", dest="incremental_keys",
                   help="comma-separated business-key columns: diff the "
                        "transformed source against the destination and "
                        "apply only the insert/update/delete delta "
                        "(beyond-reference incremental sync)")
    p.add_argument("--scd2-keys", dest="scd2_keys",
                   help="comma-separated business-key columns: maintain "
                        "the destination as a type-2 slowly-changing-"
                        "dimension history (changed keys close + reopen, "
                        "new keys insert; beyond-reference)")
    p.add_argument("--scd2-batch-date", dest="scd2_batch_date",
                   help="ISO date stamped on versions opened/closed this "
                        "run (default: today UTC); pass explicitly for "
                        "reproducible pipelines")
    p.add_argument("--target-file-mb", dest="target_file_mb", type=int,
                   help="size output files near this many MB (file sinks: "
                        "every write of the job — run, the incremental "
                        "rewrite, both SCD2 writes, each stream batch — "
                        "measures the data in one aggregate, shared with "
                        "the 'fail' null check where that sees the rows "
                        "written, and repartitions before writing; the "
                        "anti-small-files knob)")
    p.add_argument("--verify", dest="verify", action="store_const",
                   const=True,
                   help="after the migration, recompute the transformed "
                        "source and compare it to the destination by row "
                        "count + order-independent checksum "
                        "(beyond-reference content verification)")
    p.add_argument("--yes", action="store_true",
                   help="skip the overwrite confirmation prompt")
    p.add_argument("--log-level", dest="log_level")
    return p


def main(argv: list[str] | None = None) -> int:
    # reference config.py:9-23 auto-loads .env at import; here it's an
    # explicit CLI-entry step (library imports must not mutate the
    # environment) — project-root then cwd, existing vars never overridden
    load_dotenv()
    args = vars(build_parser().parse_args(argv))
    config_path = args.pop("config", None)
    skip_confirm = args.pop("yes", False)
    for k in ("source_partition_columns", "non_nullable",
              "incremental_keys", "scd2_keys"):
        if args.get(k):
            args[k] = [c.strip() for c in args[k].split(",") if c.strip()]

    file_cfg = load_config_file(config_path) if config_path else {}
    cfg = merge_config(args, file_cfg, env_config())
    logging.basicConfig(level=(cfg.get("log_level") or "INFO").upper())

    missing = [k for k in ("source_path", "destination_path") if not cfg.get(k)]
    if missing:
        print(f"error: missing required options: {missing}", file=sys.stderr)
        return 2

    # overwrite confirmation (reference cli.py:257-260)
    if cfg.get("mode") == "overwrite" and not cfg.get("dry_run") and not skip_confirm:
        if sys.stdin.isatty():
            resp = input(f"overwrite destination {cfg['destination_path']!r}? [y/N] ")
            if resp.strip().lower() not in ("y", "yes"):
                print("aborted")
                return 1

    stream = cfg.get("stream")
    if stream and not cfg.get("checkpoint"):
        print("error: --stream requires --checkpoint", file=sys.stderr)
        return 2

    job = job_from_config(cfg)
    spark = get_spark("dwms-cli")
    if cfg.get("dry_run"):
        report = job.dry_run(spark)
        plan = report.pop("physical_plan")
        print(json.dumps(report, indent=2, default=str))
        print(plan)
        return 0
    if stream and cfg.get("scd2_keys"):
        result = job.run_scd2_stream(spark, cfg["checkpoint"],
                                     cfg["scd2_keys"],
                                     batch_date=cfg.get("scd2_batch_date"))
    elif stream:
        pt = cfg.get("processing_time")
        result = job.run_stream(spark, cfg["checkpoint"],
                                available_now=not pt, processing_time=pt)
        if result.get("status") == "running":
            # always-on migration: block until externally stopped
            q = result.pop("query")
            result.pop("totals", None)
            print(json.dumps(result, default=str), flush=True)
            q.awaitTermination()
            return 0
    elif cfg.get("scd2_keys"):
        result = job.run_scd2(spark, cfg["scd2_keys"],
                              batch_date=cfg.get("scd2_batch_date"))
    elif cfg.get("incremental_keys"):
        result = job.run_incremental(spark, cfg["incremental_keys"])
    else:
        result = job.run(spark)
    if cfg.get("verify"):
        result["verification"] = job.verify(spark)
        # None = not verifiable (append mode) — disclosed, not a failure
        if result["verification"]["verified"] is False:
            print(json.dumps(result, default=str))
            return 3
    print(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
