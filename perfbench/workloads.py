"""The workloads: inputs, the closed-loop cycle, and correctness gates.

Every workload is one client in a closed loop: each call into the engine
waits for its commit or reply before the next starts. A cycle is one write,
one read and one sync op, and the unit ``cpu_s_per_op`` is reported per:

* ``backfill``  write = ``CDCPipeline.run`` over one large dirty epoch,
                read = ``datasets_equal`` replay check of the lake against
                the expected table, sync = ``TableReplicator.sync`` of a
                replica lake.
* ``trickle``   write = ``CDCPipeline.apply_epoch`` of a small epoch
                confined to 1/8 of the buckets, read = one ``lookup``
                batch, sync = ``TableReplicator.sync`` of a replica lake.

Inputs come from the engine's seeded generator and are written to parquet
during set-up, so the engine only ever reads generated files. The expected
state comes from an independent replay oracle (``perfbench.oracle``).
"""

from __future__ import annotations

import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events
from bcdc2bcdc_spark.functions.digest import with_row_digest
from bcdc2bcdc_spark.generator import gen_events, gen_repos
from bcdc2bcdc_spark.operators import datasets_equal, lww_dedup, snapshot_diff
from bcdc2bcdc_spark.operators.diff import COMPARE_COLS
from bcdc2bcdc_spark.plans import checkpoint as checkpoint_mod
from bcdc2bcdc_spark.plans import pipeline as pipeline_mod
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
from bcdc2bcdc_spark.plans.replicate import TableReplicator
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

from perfbench.oracle import ReplayOracle, diff_counts, mismatches, rows_by_key

#: the digest implementation the pipeline uses by default
DIGEST_IMPL = CDCPipeline.digest_impl
#: lookup batch: half keys the epoch just wrote, half uniform over the base
LOOKUP_KEYS = 32
#: repetitions of each noop-sink layer run in the traced run (median taken)
NOOP_REPS = 3


def _key_frame(spark, keys: list[tuple]):
    """A client's key list as a JVM-side inline table, built by one SQL
    parse. ``createDataFrame`` on a Python list would route the rows
    through a Python worker on every execution, and a column expression
    per key costs several py4j calls each; either would weigh more than
    the lookup being measured."""

    def quote(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    values = ", ".join(f"({quote(r)}, {quote(p)})" for r, p in keys)
    return spark.sql(f"SELECT * FROM VALUES {values} AS k(repo, path)")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class EventWorkload:
    """A base lake fed by an epoch-partitioned event log.

    A replica lake follows the lake through ``TableReplicator.sync``, one
    sync per cycle. Subclasses size the lake and the epochs, set ``warmup``
    (untimed cycles of the same shape, sized from the measured drift of op
    wall time) and implement ``setup`` and ``cycle``."""

    name = ""
    warmup = 0
    n_keys = 0
    n_buckets = 16
    events_per_epoch = 0  # generated per epoch, before any bucket filter
    pool = 0  # epochs generated; the timed loop stops early if it runs out

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        #: per epoch: events applied, rows handed to the upsert (LWW
        #: winners), input parquet bytes, share of buckets the commit
        #: changed (traced run only: it reads two frozen manifests)
        self.events: dict[int, int] = {}
        self.change_rows: dict[int, int] = {}
        self.input_bytes: dict[int, int] = {}
        self.touched_share: dict[int, float] = {}
        self.lww_counts: tuple[int, int] = (0, 0)
        self.diff_counts: dict[str, int] = {}
        #: per cycle: rows in the change feed the replica sync applied
        self.sync_rows: dict[int, int] = {}

    # ---- inputs -------------------------------------------------------------

    def _init_lakes(self, tracer) -> None:
        """The base lake, its replica, the pipeline and the replicator."""
        base_dir = os.path.join(self.work, "base")
        gen_repos(self.spark, n_keys=self.n_keys, seed=self.seed).write.parquet(base_dir)
        base_pd = pq.read_table(base_dir).to_pandas()
        self.base_keys = sorted(zip(base_pd["repo"], base_pd["path"]))
        self.oracle = ReplayOracle(base_pd)
        base = self.spark.read.parquet(base_dir)
        self.lake, self.replica = (
            HashBucketParquetTable(self.spark, os.path.join(self.work, name), n_buckets=self.n_buckets)
            for name in ("lake", "replica")
        )
        self.lake.init(base)
        self.replica.init(base)
        self.pipe = CDCPipeline(self.lake, CheckpointStore(os.path.join(self.work, "ckpt")))
        self.replicator = TableReplicator(
            self.lake, self.replica, CheckpointStore(os.path.join(self.work, "replica-ckpt"))
        )
        if tracer:
            self.wrap_lake(tracer, self.lake)
            self.wrap_lake(tracer, self.replica)
            self.wrap_pipeline(tracer, self.pipe)
            tracer.wrap(self.replicator, "sync", "plans.replicate.sync")

    def sync(self, i: int, meter) -> None:
        with meter.op("sync"):
            self.sync_rows[i] = self.replicator.sync()["changes"]

    def _write_events(self, where=None) -> None:
        events = gen_events(
            self.spark,
            n_events=self.events_per_epoch * self.pool,
            n_keys=self.n_keys,
            n_epochs=self.pool,
            seed=self.seed + 1,
        )
        if where is not None:
            events = events.filter(where)
        self.events_dir = os.path.join(self.work, "events")
        events.write.partitionBy("epoch").parquet(self.events_dir)

    def epoch_dir(self, i: int) -> str:
        return os.path.join(self.events_dir, f"epoch={i}")

    def has_input(self, i: int) -> bool:
        return os.path.isdir(self.epoch_dir(i))

    def _apply_oracle(self, i: int):
        """Advance the oracle by epoch ``i``; returns the epoch's events."""
        self.input_bytes[i] = _parquet_bytes(self.epoch_dir(i))
        ev = pq.read_table(self.epoch_dir(i)).to_pandas()
        self.events[i], self.change_rows[i] = self.oracle.apply_epoch(ev)
        return ev

    # ---- tracing ------------------------------------------------------------

    def wrap_lake(self, tracer, lake) -> None:
        for attr, name in (
            ("upsert", "sources.lake.upsert"),
            ("lookup", "sources.lake.lookup"),
            ("read_changes", "sources.lake.read_changes"),
            ("_cow_merged_plan", "sources.lake.plan_build"),
            ("_write_generation", "sources.lake.staging_write"),
            ("_apply_staged", "sources.lake.metadata_commit"),
        ):
            tracer.wrap(lake, attr, name)

    def wrap_pipeline(self, tracer, pipe) -> None:
        tracer.wrap(pipe, "run", "plans.pipeline.run")
        tracer.wrap(pipe, "apply_epoch", "plans.pipeline.apply_epoch")
        tracer.wrap(pipe.checkpoints, "write_lineage_rows", "plans.checkpoint.write_lineage_rows")
        tracer.wrap(pipe.checkpoints, "commit", "plans.checkpoint.commit")
        # the bookkeeping job is the caller's collect() on the lazy frame
        # these return
        tracer.wrap_result(pipeline_mod, "lineage_metrics", "collect", "plans.checkpoint.bookkeeping")
        tracer.wrap_result(
            checkpoint_mod, "lineage_metrics_epochs", "collect", "plans.checkpoint.bookkeeping"
        )

    def record_touched(self, i: int, before: int | None) -> None:
        if before is not None:
            changed = self.lake.changed_buckets(before, self.lake.commit_seq())
            self.touched_share[i] = len(changed) / self.n_buckets

    def traced_extras(self, tracer, i: int) -> dict:
        """Layer runs on epoch ``i``'s rows, outside the timed cycles: LWW
        row counts and noop-sink timings of canonicalize, the digest and
        the LWW aggregate."""
        batch = self.spark.read.parquet(self.epoch_dir(i))
        canon = canonicalize_events(batch)
        self.lww_counts = (canon.count(), self.pipe.prepare_batch(batch).count())

        def timed(name, df) -> float:
            walls = []
            for _ in range(NOOP_REPS):
                with tracer.span(name) as s:
                    _noop(df)
                walls.append(s.wall)
            return statistics.median(walls)

        t_canon = timed("functions.canonicalize.noop", canon)
        t_digest = timed(
            "functions.digest.noop", with_row_digest(canon, list(COMPARE_COLS), "_d", impl=DIGEST_IMPL)
        )
        t_lww = timed("operators.lww.noop", lww_dedup(canon))
        return {
            "functions.canonicalize.exec_s": t_canon,
            # floored: a digest run faster than canonicalize alone is noise
            "functions.digest.rows_per_s": self.lww_counts[0] / max(t_digest - t_canon, 1e-3),
            "operators.lww.exec_s": max(t_lww - t_canon, 0.0),
        }

    def lake_check(self, lake, commit: bool = True) -> list[str]:
        return mismatches(self.oracle.state, rows_by_key(lake.read().collect()), commit=commit)

    def final_checks(self) -> dict[str, list[str]]:
        return {
            "lake_vs_oracle": self.lake_check(self.lake),
            # a coalesced sync may keep an older commit for a row whose
            # content netted out unchanged: compare payload only
            "replica_vs_oracle": self.lake_check(self.replica, commit=False),
        }


class Backfill(EventWorkload):
    """Row-heavy: large dirty epochs, several events per key, every bucket
    rewritten each epoch, then a full replay check and a replica sync that
    copies the whole epoch's change. The per-commit floor is still over
    half of a write at these sizes (see the README)."""

    name = "backfill"
    warmup = 4
    n_keys = 16_000
    # 2 events per key of the generator's 1.25 x n_keys universe, so LWW
    # keeps well under half of its input rows
    events_per_epoch = 40_000
    pool = 10

    def setup(self, tracer=None) -> None:
        self._init_lakes(tracer)
        self._write_events()
        #: oracle states around the first timed epoch, for the diff gate
        self.states: dict[int, dict] = {}

    def expected_dir(self, i: int) -> str:
        return os.path.join(self.work, f"expected-{i}")

    def cycle(self, i: int, meter) -> list[str]:
        events = self.spark.read.parquet(self.events_dir).filter(F.col("epoch") == i)
        before = self.lake.commit_seq() if meter.tracing else None
        with meter.op("write"):
            self.pipe.run(events)
        self.record_touched(i, before)
        self._apply_oracle(i)
        if i in (self.warmup - 1, self.warmup):
            self.states[i] = dict(self.oracle.state)
        os.makedirs(self.expected_dir(i))
        pq.write_table(
            pa.Table.from_pandas(self.oracle.frame(), preserve_index=False),
            os.path.join(self.expected_dir(i), "part-0.parquet"),
        )
        expected = self.spark.read.parquet(self.expected_dir(i))
        with meter.op("read"):
            with meter.span("operators.diff.datasets_equal"):
                equal = datasets_equal(self.lake.read(), expected)
        self.sync(i, meter)
        return [] if equal else [f"epoch {i}: datasets_equal(lake, expected) is False"]

    def final_checks(self) -> dict[str, list[str]]:
        # snapshot_diff's classification of the first timed epoch's change
        # against the oracle's, on the same two expected tables
        w = self.warmup
        new, old = (self.spark.read.parquet(self.expected_dir(i)) for i in (w, w - 1))
        rows = snapshot_diff(new, old).groupBy("op").count().collect()
        self.diff_counts = {r["op"]: r["count"] for r in rows}
        want = diff_counts(self.states[w], self.states[w - 1])
        return {
            **super().final_checks(),
            "diff_counts_vs_oracle": [] if self.diff_counts == want else [f"{self.diff_counts} != {want}"],
        }


class Trickle(EventWorkload):
    """Commits dominate: small epochs into a larger lake, each followed by
    a lookup batch and a replica sync."""

    name = "trickle"
    warmup = 10
    n_keys = 10_000
    n_buckets = 32
    #: each epoch keeps only events whose bucket falls in a window of
    #: n_buckets / touch_div consecutive buckets that moves every epoch
    touch_div = 8
    events_per_epoch = 320
    pool = 18

    def setup(self, tracer=None) -> None:
        self._init_lakes(tracer)
        width = self.n_buckets // self.touch_div
        self._write_events(
            F.pmod(self.lake.bucket_expr() - F.col("epoch") * width, F.lit(self.n_buckets)) < width
        )

    def lookup_keys(self, epoch_events, i: int) -> list[tuple]:
        rng = random.Random(self.seed * 100_003 + i)
        written = sorted(set(zip(epoch_events["repo"], epoch_events["path"])))
        keys = rng.sample(written, min(LOOKUP_KEYS // 2, len(written)))
        keys += rng.sample(self.base_keys, LOOKUP_KEYS - len(keys))
        return sorted(set(keys))

    def cycle(self, i: int, meter) -> list[str]:
        events = self.spark.read.parquet(self.epoch_dir(i))
        before = self.lake.commit_seq() if meter.tracing else None
        with meter.op("write"):
            self.pipe.apply_epoch(events, i)
        self.record_touched(i, before)
        keys = self.lookup_keys(self._apply_oracle(i), i)
        keys_df = _key_frame(self.spark, keys)
        with meter.op("read"):
            rows = self.lake.lookup(keys_df).collect()
        self.sync(i, meter)
        return mismatches(self.oracle.rows_for(keys), rows_by_key(rows))


WORKLOADS = {w.name: w for w in (Backfill, Trickle)}
