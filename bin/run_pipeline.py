#!/usr/bin/env python3
"""spark-submit entry point for the CDC engine.

Cluster usage (the north-rule invocation shape)::

    cd /root/repo && zip -r /tmp/bcdc2bcdc_spark.zip bcdc2bcdc_spark
    spark-submit --py-files /tmp/bcdc2bcdc_spark.zip \
        --master yarn --num-executors 64 \
        bin/run_pipeline.py \
        --events /data/events --lake /data/lake --checkpoints /data/ckpt \
        --epoch-col epoch --n-buckets 8192

Local / sandbox usage (synthetic run)::

    python bin/run_pipeline.py --generate 100000 --workdir /tmp/cdc_run

The master/executor topology comes from spark-submit; this script only
declares the job. The same binary serves batch epochs (--mode batch),
streaming tail (--mode stream) and snapshot diff (--mode diff).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_events, gen_repos
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
from bcdc2bcdc_spark.schema import REPOS_SCHEMA
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable
from bcdc2bcdc_spark.streaming.stream import StreamingTailer
from bcdc2bcdc_spark.transforms.registry import TransformConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="bcdc2bcdc_spark CDC pipeline")
    p.add_argument("--mode", choices=["batch", "stream", "diff"], default="batch")
    p.add_argument("--events", help="parquet dir of change events")
    p.add_argument("--base", help="parquet dir of the initial snapshot (optional)")
    p.add_argument("--lake", help="lake table path")
    p.add_argument("--checkpoints", help="checkpoint store path")
    p.add_argument("--epoch-col", default="epoch")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--lww-strategy", choices=["maxby", "window", "salted"], default="maxby")
    p.add_argument("--n-salts", type=int, default=16)
    p.add_argument(
        "--write-mode",
        choices=["cow", "mor"],
        default="cow",
        help="lake write mode: copy-on-write rewrites touched buckets; "
        "merge-on-read appends O(changes) deltas (compact separately)",
    )
    p.add_argument("--transform-config", help="JSON transform config path")
    p.add_argument("--generate", type=int, default=0, help="synthesize N events (demo mode)")
    p.add_argument("--workdir", help="workdir for --generate demo mode")
    p.add_argument("--src", help="diff mode: src snapshot parquet")
    p.add_argument("--dest", help="diff mode: dest snapshot parquet")
    p.add_argument("--out", help="diff mode: change-set output parquet")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("bcdc2bcdc-spark-pipeline").getOrCreate()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    # engine write-path settings (see bcdc2bcdc_spark/session.py) — these are
    # hadoop-level, settable at runtime
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    hconf.set("parquet.summary.metadata.level", "NONE")

    if args.mode == "diff":
        from bcdc2bcdc_spark.operators.diff import snapshot_diff

        src = spark.read.parquet(args.src)
        dest = spark.read.parquet(args.dest)
        change_set = snapshot_diff(src, dest, digest_impl="arrow")
        change_set.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "diff", "changes": spark.read.parquet(args.out).count()}))
        return 0

    if args.generate:
        work = args.workdir or "/tmp/cdc_run"
        os.makedirs(work, exist_ok=True)
        n_keys = max(args.generate // 4, 100)
        gen_repos(spark, n_keys=n_keys).write.mode("overwrite").parquet(f"{work}/base")
        gen_events(spark, n_events=args.generate, n_keys=n_keys, n_epochs=4).write.mode(
            "overwrite"
        ).parquet(f"{work}/events")
        args.base = f"{work}/base"
        args.events = f"{work}/events"
        args.lake = args.lake or f"{work}/lake"
        args.checkpoints = args.checkpoints or f"{work}/ckpt"

    if not (args.events and args.lake and args.checkpoints):
        raise SystemExit("--events, --lake and --checkpoints are required (or --generate)")

    table = HashBucketParquetTable(
        spark, args.lake, n_buckets=args.n_buckets, write_mode=args.write_mode
    )
    if not table.exists():
        if args.base:
            table.init(canonicalize_snapshot(spark.read.parquet(args.base)))
        else:
            table.init(spark.createDataFrame([], REPOS_SCHEMA))

    transforms = []
    ignore_repos: tuple[str, ...] = ()
    if args.transform_config:
        cfg = TransformConfig.from_json(args.transform_config)
        transforms = [cfg.pipeline("compare")]
        ignore_repos = cfg.ignore_repos

    pipe = CDCPipeline(
        table=table,
        checkpoints=CheckpointStore(args.checkpoints),
        ignore_repos=ignore_repos,
        lww_strategy=args.lww_strategy,
        n_salts=args.n_salts,
        transforms=transforms,
    )

    if args.mode == "batch":
        events = spark.read.parquet(args.events)
        n_events = events.count()  # outside the timed window
    t0 = time.perf_counter()
    if args.mode == "stream":
        tailer = StreamingTailer(
            spark, pipe, args.events, os.path.join(args.checkpoints, "ss")
        )
        tailer.run_available()
        applied = "stream"
        n_events = None
    else:
        results = pipe.run(events, epoch_col=args.epoch_col)
        applied = sum(results.values())
    wall = time.perf_counter() - t0
    out = {
        "mode": args.mode,
        "epochs_applied": applied,
        "events": n_events,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1) if n_events else None,
        "final_rows": table.read().count(),
        "parallelism": spark.sparkContext.defaultParallelism,
        "write_mode": args.write_mode,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
