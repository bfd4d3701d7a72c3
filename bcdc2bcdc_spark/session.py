"""SparkSession factory with scale-appropriate defaults.

Single place where execution-relevant confs live so tests, bench and the
driver entrypoint all run the same engine configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the sandbox (local[32], 128 GiB); on a real cluster
# these are overridden via spark-submit --conf. AQE stays on everywhere:
# it re-plans shuffles at runtime (coalesce small partitions, split skewed
# ones, demote/promote broadcast joins) which is exactly what a 100 TB run
# needs and costs nothing at test scale.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs (digest + schema-reconciliation boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Joins (guide §3.1/§9): let the planner pick shuffled-hash over
    # sort-merge when its size conditions hold (build side must estimate
    # well under autoBroadcastJoinThreshold × shuffle partitions AND be
    # much smaller than the probe side), and let AQE rewrite sort-merge
    # to shuffled-hash at runtime when every post-shuffle partition is
    # under 64 MB (measured TRUE sizes, so this guard is scale-adaptive:
    # at 100 TB partitions exceed it and the join stays sort-merge with
    # its graceful spill). Measured on the lake MERGE paths: the
    # full-outer digest joins stop paying two wide sorts per commit
    # (dml row 6.2 → 4.9 s, restore 6.7 → 5.6 s at sf0.1).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
    # Deterministic timestamps across Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # PySpark 4 wraps every DataFrame/Column/functions call in call-site
    # capture (walks the Python stack, pushes the origin to the JVM): ~5
    # extra py4j round trips per call, more than half of all driver↔JVM
    # traffic when a commit builds its plan. The engine builds its plans
    # in code, so the capture only enriches error messages; turning it off
    # halves the py4j commands of a small commit's plan building. Pass it
    # as "true" through ``extra_conf`` to get Python call sites in errors.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Python workers fork from the engine's daemon (``_pydaemon``), not
    # ``pyspark.daemon``. Every Python task (the Arrow digest, the
    # mapInArrow / mapInPandas boundaries, streaming state) calls
    # ``importlib.invalidate_caches()``, and stock workers then re-read the
    # directory of every zip on their path — pyspark.zip and the spark-core
    # jar, tens of ms to 0.2 s per task, for archives that never change.
    # The engine's daemon re-reads an archive only when its (mtime_ns,
    # size) changed since the last read, or when the stat fails. Pass
    # ``{"spark.python.daemon.module": "pyspark.daemon"}`` through
    # ``extra_conf`` to run the stock daemon.
    "spark.python.daemon.module": "bcdc2bcdc_spark._pydaemon",
    # Kept for user overwrite-mode writes; the lake backend itself now
    # commits via immutable generation dirs + an atomic manifest swap and
    # no longer relies on dynamic partition overwrite.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "snappy",
    # The lake's manifest-resolved reads pass one root path per bucket dir;
    # above this threshold Spark launches a DISTRIBUTED listing job per
    # read — pure scheduling overhead for O(n_buckets) tiny dirs. List on
    # the driver instead (object stores: revisit with async listing).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
    # Scan-split sizing (guide §6): the default 4 MB openCostInBytes floors
    # the split size, capping a 10 MB input at ~3 scan tasks — the map side
    # of every aggregation over a small table then runs 3-wide on a 32-core
    # executor. 128 KB lets bytesPerCore govern small inputs (use all
    # cores) while LARGE inputs stay governed by maxPartitionBytes, so the
    # setting is scale-adaptive rather than local-tuned: at 100 TB the
    # per-core bytes dwarf both constants and split size = maxPartitionBytes
    # exactly as before.
    "spark.sql.files.openCostInBytes": "131072",
    # Write path: v2 committer moves task output directly (no serial
    # driver-side job-commit rename pass) and parquet summary files off —
    # both standard large-cluster settings.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.hadoop.parquet.summary.metadata.level": "NONE",
    # Quieter, smaller driver at test scale.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "bcdc2bcdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the parallelism level — at sandbox
    scale one shuffle partition per core; on a cluster set it (or rely on
    AQE coalescing) to target ~128 MB per shuffle partition.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    if extra_conf:
        conf.update(extra_conf)
    # workers import this package (the daemon module, pickled UDFs) with
    # the driver's cwd as their only guaranteed path entry: put the
    # package's parent on their path too (Spark appends the inherited
    # PYTHONPATH after it)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = (
        f"{worker_path}{os.pathsep}{pkg_parent}" if worker_path else pkg_parent
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
