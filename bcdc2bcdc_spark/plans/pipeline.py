"""The CDC pipeline — tail → canonicalize → dedup → merge → commit.

This is the engine's run loop, the Spark-shaped version of the reference's
``RunUpdate`` orchestration (/root/reference/bin/runBCDC2BCDC.py:286-289 →
extract → delta → apply, SURVEY.md §3.1):

    for each uncommitted epoch (offset range of the event log):
        canonicalize (column exprs)                 # T-family
        drop ignore-listed repos (broadcast filter) # P3/P4
        LWW dedup per (repo, path)                  # window/max_by/salted
        upsert into the lake table                  # MERGE semantics
        append per-partition lineage, commit offset marker (atomic)

Epochs are the batch analog of binlog offset ranges: late events are just
events in a later epoch; idempotent MERGE makes replays safe, so
exactly-once reduces to "marker exists ⇒ epoch applied at least once and
every application produced the same table".
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
import uuid

from pyspark.sql import DataFrame, functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events
from bcdc2bcdc_spark.operators.lww import lww_dedup
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore, lineage_metrics
from bcdc2bcdc_spark.schema import KEY_COLS, ORDER_COLS


@dataclass
class CDCPipeline:
    """Applies change-event epochs to a lake table with exactly-once resume.

    ``table`` is any object with ``read() -> DataFrame`` and
    ``upsert(changes, digest_impl=..., touched=...)``
    (HashBucketParquetTable or IcebergLakeTable). ``digest_impl`` picks how
    the epoch's change set is digested for the content diff against the
    table's stored digests — the one place the engine runs the Arrow UDF;
    everything the table digests itself uses the JVM. ``transforms`` are
    named canonicalizers applied in
    order after the built-in null-ish canonicalization (the reference's
    config-dispatched CustomTransformers, T4); they must be
    KEY-PRESERVING (never rewrite repo/path) — bucket discovery reads the
    raw batch.
    """

    table: object
    checkpoints: CheckpointStore
    ignore_repos: tuple[str, ...] = ()  # config-driven (TransformConfig.ignore_repos)
    lww_strategy: str = "maxby"
    n_salts: int = 16
    digest_impl: str = "arrow"  # change-set digest (north rule); "jvm" is bit-identical
    key_cols: Sequence[str] = KEY_COLS
    order_cols: Sequence[str] = ORDER_COLS
    transforms: list[Callable[[DataFrame], DataFrame]] = field(default_factory=list)
    #: dead-letter location: malformed events (null business key after
    #: canonicalization — unmergeable) are written here per epoch instead
    #: of poisoning the lake; None keeps only the drop (always applied).
    quarantine_dir: str | None = None
    #: RUNTIME ignore discovery (reference CachedIgnores,
    #: /root/reference/bcdc2bcdc/DataCache.py:559-586 + duplicate-email
    #: detection CKANData.py:1582-1637): a callable given the canonicalized
    #: batch that returns a small frame of key columns to EXCLUDE from this
    #: epoch's apply. Flagged events still count in lineage (they were
    #: seen); they just never reach the table — exactly the reference's
    #: "detected duplicates are ignored, not resolved" semantics.
    runtime_ignore_detector: Callable[[DataFrame], DataFrame] | None = None

    def _malformed_pred(self):
        # keys are never rewritten, but a null-ish key ('' / 'None' / NULL)
        # cannot identify a lake row → the event is unmergeable
        from bcdc2bcdc_spark.functions.canonicalize import canonical_nullish

        pred = None
        for k in self.key_cols:
            c = canonical_nullish(F.col(k)).isNull()
            pred = c if pred is None else (pred | c)
        return pred

    def prepare_batch(self, events: DataFrame) -> DataFrame:
        """Canonicalize → drop malformed → ignore-filter → custom
        transforms → LWW dedup. Pure DataFrame→DataFrame; shared by batch,
        resume and streaming."""
        batch = canonicalize_events(events)
        batch = batch.filter(~self._malformed_pred())
        if self.ignore_repos:
            # static ignore registry → broadcast-able NOT-isin filter
            # (reference P3/P4: CKANTransform.py:232-251, CKANUpdate.py:85-117)
            batch = batch.filter(~F.col("repo").isin(*self.ignore_repos))
        if self.runtime_ignore_detector is not None:
            # runtime-discovered ignores: detect on THIS batch, anti-join out.
            # The flagged set is small by construction (it is an ignore
            # list), so the anti-join broadcasts.
            flagged = self.runtime_ignore_detector(batch)
            batch = batch.join(
                F.broadcast(flagged), on=list(flagged.columns), how="left_anti"
            )
        for t in self.transforms:
            batch = t(batch)
        return lww_dedup(
            batch,
            key_cols=self.key_cols,
            order_cols=self.order_cols,
            strategy=self.lww_strategy,
            n_salts=self.n_salts,
        )

    def _bucket_expr_for_lineage(self):
        bucket_expr = None
        if hasattr(self.table, "bucket_expr"):
            bucket_expr = self.table.bucket_expr()
            if self.ignore_repos:
                # ignored repos never reach the table; don't read their buckets
                bucket_expr = F.when(
                    ~F.col("repo").isin(*self.ignore_repos), bucket_expr
                )
        return bucket_expr

    def apply_epoch(
        self, events: DataFrame, epoch: int, lineage_rows: list | None = None
    ) -> bool:
        """Apply one epoch; returns False if it was already committed.

        Commit order: data upsert → lineage append → offset marker. A crash
        anywhere before the marker causes a replay whose upsert is
        deterministic + idempotent, so the final table is unaffected;
        lineage appends are reconciled by reading only committed epochs.

        ``lineage_rows`` may pass this epoch's PRECOMPUTED bookkeeping
        rows (``run()`` computes every epoch's in one job); they are a
        pure function of the input batch, so crash-replay semantics are
        unchanged.
        """
        if self.checkpoints.is_committed(epoch):
            return False
        # ONE bookkeeping job over the raw batch yields lineage, offset
        # bounds AND the touched lake buckets (rows are O(input partitions),
        # collect is free); the upsert then executes the
        # canonicalize→dedup→merge plan exactly once. Crash order is safe:
        # lineage is overwrite-idempotent, the upsert is idempotent, the
        # marker is last.
        bucket_expr = self._bucket_expr_for_lineage()
        if lineage_rows is None:
            lineage_rows = lineage_metrics(events, epoch, bucket_expr).collect()
        lo = min((r["_offset_lo"] for r in lineage_rows), default=-1)
        hi = max((r["_offset_hi"] for r in lineage_rows), default=-1)
        touched = None
        if bucket_expr is not None:
            touched = sorted(
                {b for r in lineage_rows for b in (r["_buckets"] or []) if b is not None}
            )

        if self.quarantine_dir is not None:
            # dead-letter: overwrite-per-epoch (replay-idempotent like lineage)
            canonicalize_events(events).filter(self._malformed_pred()).write.mode(
                "overwrite"
            ).parquet(f"{self.quarantine_dir}/epoch={epoch}")

        winners = self.prepare_batch(events)
        self.table.upsert(winners, digest_impl=self.digest_impl, touched=touched)

        # rows are already driver-side (the bookkeeping job collected
        # them) — write them without scheduling a Spark job (guide §1.2)
        self.checkpoints.write_lineage_rows(epoch, lineage_rows)
        # epoch marker records WHICH table snapshot the epoch produced —
        # the audit link between the offset log and the lake's manifest
        # history (tables without commit sequencing get an opaque id)
        snap = getattr(self.table, "commit_seq", None)
        self.checkpoints.commit(
            epoch,
            offset_start=lo,
            offset_end=hi,
            snapshot_id=str(snap()) if callable(snap) else uuid.uuid4().hex,
        )
        return True

    def runtime_ignores_for(self, events: DataFrame) -> DataFrame | None:
        """The keys the configured detector would exclude for this batch —
        the queryable form of the reference's CachedIgnores accumulation
        (inspection/audit surface; prepare_batch applies the same set)."""
        if self.runtime_ignore_detector is None:
            return None
        from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events

        return self.runtime_ignore_detector(canonicalize_events(events))

    def run(self, events: DataFrame, epoch_col: str = "epoch") -> dict[int, bool]:
        """Apply every epoch present in ``events`` in ascending order,
        skipping committed ones (resume-after-kill entrypoint).

        ONE bookkeeping pass up front yields the epoch list AND every
        epoch's lineage/offset/touched-bucket rows (formerly a
        distinct-epochs probe plus one bookkeeping job per epoch —
        guide §1.2); ``apply_epoch`` then runs exactly one Spark job per
        epoch, the merge write."""
        from bcdc2bcdc_spark.plans.checkpoint import lineage_metrics_epochs

        all_rows = lineage_metrics_epochs(
            events, epoch_col, self._bucket_expr_for_lineage()
        ).collect()
        by_epoch: dict[int, list] = {}
        for r in all_rows:
            by_epoch.setdefault(int(r["epoch"]), []).append(r)
        results: dict[int, bool] = {}
        self.checkpoints.acquire_writer_lock()
        try:
            for ep in sorted(by_epoch):
                batch = events.filter(F.col(epoch_col) == ep).drop(epoch_col)
                results[ep] = self.apply_epoch(
                    batch, int(ep), lineage_rows=by_epoch[ep]
                )
        finally:
            self.checkpoints.release_writer_lock()
        return results


def duplicate_altkey_detector(
    alt_cols: Sequence[str],
    key_cols: Sequence[str] = KEY_COLS,
    min_count: int = 2,
) -> Callable[[DataFrame], DataFrame]:
    """Runtime-ignore detector mirroring the reference's duplicate-email
    rule (/root/reference/bcdc2bcdc/CKANData.py:1582-1637): an alternate-key
    value carried by ≥ ``min_count`` DISTINCT business keys flags every one
    of those keys. Returns a key-column frame for prepare_batch's
    anti-join. Two hash aggregates + one broadcast join — no window, no
    per-row Python."""

    def detect(batch: DataFrame) -> DataFrame:
        pairs = batch.select(*alt_cols, *key_cols).distinct()
        dup_vals = (
            pairs.groupBy(*alt_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= min_count)
            .select(*alt_cols)
        )
        return (
            pairs.join(F.broadcast(dup_vals), list(alt_cols))
            .select(*key_cols)
            .distinct()
        )

    return detect
