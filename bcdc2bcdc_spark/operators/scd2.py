"""Slowly-changing-dimension type-2 history, maintained from the feed.

The reference keeps no history: each run overwrites destination objects
in place and the previous state of an updated/deleted record is gone
(``/root/reference/bcdc2bcdc/CKANUpdate.py`` update/delete branches;
the run summary only counts them). A CDC platform usually wants the
opposite — every version of every key, with its validity interval — and
at 100 TB that history cannot be recomputed from raw logs on demand.

SCD2History materializes it AS a lake table and advances it
incrementally from the base table's change data feed:

* history row = base payload + ``valid_from_seq`` (the base commit that
  made this version current) + ``valid_to_seq`` (the commit that
  superseded it; NULL = still current);
* row identity is ``(base key, valid_from_seq)`` — a key's versions are
  distinct rows — while buckets hash the BASE key alone
  (``bucket_cols``), so a key's whole version chain lives in one bucket:
  closing the current version reads/writes exactly the touched buckets,
  and point-history probes prune;
* one ``advance()`` per interval applies the feed: ADD opens a version,
  UPDATE closes the current one and opens the successor, DELETE just
  closes — O(changes) work, the base table is never rescanned;
* ``as_of(seq)`` reconstructs any recorded state with a plain interval
  predicate — no log replay.

Granularity note: history records COMMITTED states. Versions created and
superseded inside one feed interval (between two advances) never appear,
exactly as Delta CDF/Iceberg changelog consumers see net changes per
commit range.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.fs import LocalFS
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

VALID_FROM = "valid_from_seq"
VALID_TO = "valid_to_seq"


@dataclass
class SCD2History:
    """Type-2 history of ``base``, stored as a lake table at ``path``."""

    base: HashBucketParquetTable
    path: str
    n_buckets: int = 16
    fs: object = field(default_factory=LocalFS)

    @property
    def state_path(self) -> str:
        return os.path.join(self.path, "_scd2.json")

    def _payload_cols(self) -> list[str]:
        return [
            f.name
            for f in self.base.data_schema().fields
            if f.name not in self.base.key_cols
        ]

    def _table(self) -> HashBucketParquetTable:
        """History identity is (key, valid_from); buckets hash the key
        alone so a key's version chain co-locates. The compare set is the
        payload plus valid_to — closing a version (NULL → seq) must
        register as an UPDATE against the stored digest."""
        return HashBucketParquetTable(
            self.base.spark,
            os.path.join(self.path, "table"),
            key_cols=tuple(self.base.key_cols) + (VALID_FROM,),
            bucket_cols=tuple(self.base.key_cols),
            n_buckets=self.n_buckets,
            compare_cols=tuple(self._payload_cols()) + (VALID_TO,),
        )

    def _state(self) -> dict:
        if not self.fs.exists(self.state_path):
            raise ValueError(f"no SCD2 history at {self.path} — call build() first")
        return self.fs.read_json(self.state_path)

    def tracked_seq(self) -> int:
        """The base commit_seq the history currently reflects."""
        return int(self._state()["tracked_seq"])

    def _write_state(
        self, seq: int, built: int | None = None, inflight_to: int | None = None
    ) -> None:
        if built is None:
            built = int(self._state().get("built_seq", 0))
        st = {"tracked_seq": seq, "built_seq": built, "base_path": self.base.path}
        if inflight_to is not None:
            # write-ahead intent: an interval [seq, inflight_to] is being
            # applied; a crash before the next plain write replays it exactly
            st["inflight_to"] = int(inflight_to)
        self.fs.write_json_atomic(self.state_path, st)

    # -- build / maintain -------------------------------------------------

    def build(self, as_of: int | None = None) -> int:
        """Seed the history from a PINNED base version: every current row
        opens at that commit (``valid_from = seq``, ``valid_to = NULL``).
        States before the build are not reconstructable — history starts
        where tracking starts."""
        seq = self.base.commit_seq() if as_of is None else int(as_of)
        snap = self.base.read_version(seq)
        self._table().init(
            snap.withColumn(VALID_FROM, F.lit(seq).cast("long")).withColumn(
                VALID_TO, F.lit(None).cast("long")
            )
        )
        self._write_state(seq, built=seq)
        return seq

    def advance(self) -> dict:
        """Apply the base feed since the last tracked version: one
        bucket-pruned feed read, one pruned read of the touched keys'
        OPEN history rows, one upsert per interval.

        Crash safety is a WRITE-AHEAD INTENT: the target seq is recorded
        in the state file BEFORE the interval is applied, so a crash
        anywhere before the post-commit state write replays EXACTLY the
        recorded interval — never a wider one. (Replaying the identical
        interval is a digest no-op; replaying a WIDER one is not: the
        net feed over [frm, head] can cancel a change the crashed apply
        already materialized — e.g. an ADD it opened whose key was
        deleted after the crash would never be closed.)"""
        st = self._state()
        frm0 = frm = int(st["tracked_seq"])
        closed = opened = 0
        inflight = st.get("inflight_to")
        if inflight is not None and int(inflight) > frm:
            # finish (or idempotently re-apply) the crashed interval first
            c, o = self._apply_interval(frm, int(inflight))
            closed += c
            opened += o
            frm = int(inflight)
            self._write_state(frm)
        cur = self.base.commit_seq()
        if cur < frm:
            raise ValueError(
                f"history at seq {frm} is AHEAD of base at {cur} — was the "
                "base table re-initialized? rebuild the history"
            )
        if cur > frm:
            self._write_state(frm, inflight_to=cur)  # intent: [frm, cur]
            c, o = self._apply_interval(frm, cur)
            closed += c
            opened += o
            self._write_state(cur)
        return {
            "from_seq": frm0,
            "to_seq": max(cur, frm),
            "closed": closed,
            "opened": opened,
        }

    def _apply_interval(self, frm: int, cur: int) -> tuple[int, int]:
        """Apply the net feed of ONE pinned interval to the history."""
        feed = self.base.read_changes(frm, cur)
        kc = list(self.base.key_cols)
        payload = self._payload_cols()
        hist = self._table()
        # the interval's committed versions all open/close AT ``cur`` —
        # read_changes nets the interval to one change per key
        feed = feed.persist()
        try:
            superseded = feed.where(
                F.col("op").isin(OP_UPDATE, OP_DELETE)
            ).select(*kc)
            # open rows of the touched keys: pruned to the buckets the
            # keys hash to (bucket_cols = base key), then valid_to IS NULL
            closes = (
                self._open_rows_for(hist, superseded)
                # vf < cur: a version OPENED at cur is this interval's own
                # successor (visible when a crash replays the interval) —
                # closing it would make a degenerate [cur, cur) row AND
                # collide with the re-opened identity (key, cur). Skipping
                # it makes replay a pure digest no-op.
                .where(F.col(VALID_FROM) < F.lit(cur))
                .withColumn(VALID_TO, F.lit(cur).cast("long"))
                .withColumn("op", F.lit(OP_UPDATE))
            )
            opens = (
                feed.where(F.col("op").isin(OP_ADD, OP_UPDATE))
                .select(*kc, *payload)
                .withColumn(VALID_FROM, F.lit(cur).cast("long"))
                .withColumn(VALID_TO, F.lit(None).cast("long"))
                .withColumn("op", F.lit(OP_ADD))
            )
            changes = closes.unionByName(opens).persist()
            try:
                n_closed = changes.where(F.col(VALID_TO).isNotNull()).count()
                n_opened = changes.where(F.col(VALID_TO).isNull()).count()
                if n_closed or n_opened:
                    hist.upsert(changes)
            finally:
                changes.unpersist()
        finally:
            feed.unpersist()
        return n_closed, n_opened

    def _open_rows_for(self, hist: HashBucketParquetTable, keys: DataFrame) -> DataFrame:
        """Current (valid_to IS NULL) history rows for a key set, reading
        only the buckets those keys hash to — same probe shape as
        ``lookup`` but on a partial key (the bucket columns), which is
        exactly what ``bucket_cols`` exists for."""
        meta = hist._meta()
        kb = keys.withColumn("_b", hist.bucket_expr())
        buckets = sorted({r["_b"] for r in kb.select("_b").distinct().collect()})
        return (
            hist._read_merged_raw(buckets=buckets, meta=meta)
            .drop("_digest")
            .where(F.col(VALID_TO).isNull())
            .join(F.broadcast(keys.distinct()), list(self.base.key_cols), "left_semi")
        )

    # -- queries ----------------------------------------------------------

    def history(self) -> DataFrame:
        """All versions of all keys with their validity intervals."""
        return self._table().read()

    def as_of(self, seq: int) -> DataFrame:
        """The base state AS OF a tracked commit, reconstructed from
        intervals — a plain filter, no log replay, valid for any seq ≥
        the build point (earlier states were never tracked)."""
        st = self._state()
        built = int(st.get("built_seq", 0))
        if seq < built:
            raise ValueError(
                f"history starts at commit {built}; {seq} was never tracked"
            )
        tracked = int(st["tracked_seq"])
        if seq > tracked:
            raise ValueError(
                f"history is tracked through commit {tracked}; as_of({seq}) "
                "would silently serve stale data — advance() first"
            )
        return (
            self.history()
            .where(
                (F.col(VALID_FROM) <= F.lit(seq))
                & (F.col(VALID_TO).isNull() | (F.col(VALID_TO) > F.lit(seq)))
            )
            .drop(VALID_FROM, VALID_TO)
        )

    def current(self) -> DataFrame:
        """The open versions — must equal ``base.read()`` at the tracked
        seq (the convergence invariant the tests pin)."""
        return (
            self.history().where(F.col(VALID_TO).isNull()).drop(VALID_FROM, VALID_TO)
        )
