"""Committed-offset checkpoints + per-partition lineage.

The reference's nearest analogs are the read-through JSON snapshot cache
(/root/reference/bcdc2bcdc/CKAN.py:259-270 — fetch once, reuse) and the
fetch-completeness verification (CKAN.py:1239-1266). The engine needs the
real thing: an epoch is COMMITTED only once its marker file exists; resume
skips committed epochs; a crash after the data write but before the marker
replays the epoch, which is safe because the upsert is deterministic and
idempotent (see sources/lake.py).

Markers are one JSON file per epoch written via temp-file + atomic rename —
the same single-writer commit pattern Structured Streaming's
HDFSMetadataLog uses for its offset log. Lineage rows (FIXTURES.md §4) are
appended as parquet next to the markers.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from bcdc2bcdc_spark.schema import LINEAGE_SCHEMA, OP_DELETE


class ConcurrentWriterError(RuntimeError):
    """A live writer already owns this checkpoint store / lake table."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


@dataclass
class CheckpointStore:
    path: str

    @property
    def offsets_dir(self) -> str:
        return os.path.join(self.path, "offsets")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.path, "lineage")

    def committed_epochs(self) -> set[int]:
        if not os.path.isdir(self.offsets_dir):
            return set()
        out = set()
        for name in os.listdir(self.offsets_dir):
            if name.startswith("epoch_") and name.endswith(".json"):
                out.add(int(name[len("epoch_") : -len(".json")]))
        return out

    def is_committed(self, epoch: int) -> bool:
        return os.path.exists(self._marker(epoch))

    def read_offsets(self, epoch: int) -> dict:
        with open(self._marker(epoch)) as fh:
            return json.load(fh)

    def commit(self, epoch: int, offset_start: int, offset_end: int, snapshot_id: str) -> None:
        """Atomically publish the epoch marker (write-temp + rename)."""
        os.makedirs(self.offsets_dir, exist_ok=True)
        marker = self._marker(epoch)
        tmp = marker + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "epoch": epoch,
                    "offset_start": offset_start,
                    "offset_end": offset_end,
                    "committed_at_snapshot": snapshot_id,
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, marker)

    def _marker(self, epoch: int) -> str:
        return os.path.join(self.offsets_dir, f"epoch_{epoch}.json")

    # -- single-writer lock ------------------------------------------------
    # The exactly-once story assumes one writer per lake table. The lock is
    # an O_EXCL-created file holding the owner pid; a lock whose pid is dead
    # is stale and stolen. (On a real cluster this is the driver's job-level
    # lock; Iceberg additionally rejects concurrent conflicting commits.)

    @property
    def lock_path(self) -> str:
        return os.path.join(self.path, "writer.lock")

    def acquire_writer_lock(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        while True:
            try:
                fd = os.open(self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    with open(self.lock_path) as fh:
                        pid = int(fh.read().strip() or "-1")
                except (OSError, ValueError):
                    pid = -1
                if pid > 0 and _pid_alive(pid) and pid != os.getpid():
                    raise ConcurrentWriterError(
                        f"another writer (pid {pid}) holds {self.lock_path}"
                    )
                # stale (dead pid) or our own → steal
                try:
                    os.remove(self.lock_path)
                except FileNotFoundError:
                    pass

    def release_writer_lock(self) -> None:
        try:
            os.remove(self.lock_path)
        except FileNotFoundError:
            pass

    def write_lineage(self, epoch: int, lineage_df: DataFrame) -> None:
        """Idempotent under replay: each epoch's lineage lives in its own
        partition directory and is OVERWRITTEN, never appended — a crashed
        epoch replay cannot double-count."""
        lineage_df.drop("epoch").write.mode("overwrite").parquet(
            os.path.join(self.lineage_dir, f"epoch={epoch}")
        )

    def write_lineage_rows(self, epoch: int, rows: list) -> None:
        """``write_lineage`` for rows the caller ALREADY collected (the
        pipeline's one bookkeeping job returns them): one driver-side
        pyarrow write of O(input partitions) rows instead of scheduling a
        whole Spark job to write a kilobyte (guide §1.2/§5 — the driver
        may do tiny metadata work; an epoch's lineage is exactly that).
        Same layout + types as ``write_lineage`` (read back by
        ``read_lineage`` through the identical parquet path), same
        overwrite-idempotent contract."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = ["partition_id", "events_applied", "upserts", "deletes", "bytes"]
        types = [pa.int32(), pa.int64(), pa.int64(), pa.int64(), pa.int64()]
        table = pa.table(
            {
                c: pa.array([r[c] for r in rows], type=t)
                for c, t in zip(cols, types)
            }
        )
        out = os.path.join(self.lineage_dir, f"epoch={epoch}")
        tmp = out + f".tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        # overwrite semantics via swap: replay never double-counts
        if os.path.isdir(out):
            import shutil

            shutil.rmtree(out)
        os.rename(tmp, out)

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.lineage_dir):
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        df = spark.read.parquet(self.lineage_dir)  # epoch = partition column
        return df.withColumn("epoch", F.col("epoch").cast("long")).select(
            *[f.name for f in LINEAGE_SCHEMA.fields]
        )


def _lineage_aggregate(
    events: DataFrame, epoch: Column, bucket_expr: Column | None
) -> DataFrame:
    """The one lineage aggregate both public forms share, grouped by
    (``epoch``, input partition)."""
    aggs = [
        F.count(F.lit(1)).alias("events_applied"),
        F.sum(F.when(F.col("op") != OP_DELETE, 1).otherwise(0)).alias("upserts"),
        F.sum(F.when(F.col("op") == OP_DELETE, 1).otherwise(0)).alias("deletes"),
        F.sum(F.coalesce(F.octet_length("content"), F.lit(0))).cast("long").alias("bytes"),
        F.min("event_seq").alias("_offset_lo"),
        F.max("event_seq").alias("_offset_hi"),
    ]
    if bucket_expr is not None:
        aggs.append(F.collect_set(bucket_expr).alias("_buckets"))
    return events.groupBy(
        epoch.cast("long").alias("epoch"),
        F.spark_partition_id().alias("partition_id"),
    ).agg(*aggs)


def lineage_metrics(batch: DataFrame, epoch: int, bucket_expr: Column | None = None) -> DataFrame:
    """Per-input-partition metrics for one epoch's raw event batch:
    (epoch, partition_id, events_applied, upserts, deletes, bytes).

    One map-side partial aggregation over the batch — ``spark_partition_id``
    keys are already co-located, so the shuffle moves O(partitions) rows.
    Invariant (tested): sum(events_applied) == epoch event count.

    This ONE job also carries everything else the epoch needs from a scan
    of the raw batch — offset bounds and (when ``bucket_expr`` is given)
    the distinct lake buckets each partition touches — so the pipeline
    never scans the batch for bookkeeping twice. The ``_``-prefixed
    columns are stripped before persisting.
    """
    return _lineage_aggregate(batch, F.lit(epoch), bucket_expr)


def lineage_metrics_epochs(
    events: DataFrame, epoch_col: str, bucket_expr: Column | None = None
) -> DataFrame:
    """``lineage_metrics`` for EVERY epoch in one job: grouped by the
    epoch column instead of a literal, so a multi-epoch run pays one
    bookkeeping pass over the input rather than one per epoch plus a
    separate distinct-epochs probe (guide §1.2: fewer serial passes).
    Row set per epoch is identical to the per-epoch form — an epoch
    filter does not change ``spark_partition_id`` assignments."""
    return _lineage_aggregate(events, F.col(epoch_col), bucket_expr)
