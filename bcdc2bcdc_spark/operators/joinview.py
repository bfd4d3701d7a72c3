"""Incrementally-maintained JOIN view (FK-enrichment materialization).

The reference enriches records by following foreign keys at sync time —
every run re-resolves org ids through a full in-memory dump of the
destination (``/root/reference/bcdc2bcdc/DataCache.py:384-437``,
``CKANTransform.py`` field remaps). The lake-platform analog is a
materialized JOIN: fact rows enriched with a dimension's payload, kept
current as BOTH tables change. At 100 TB neither "recompute the join
every run" nor "dump the dimension into memory" survives; the view must
advance from the two change feeds.

Maintenance contract (``refresh()``), O(affected rows) per interval:

* a LEFT-side change touches exactly its own view row — the left feed's
  keys are the affected set;
* a RIGHT-side change fans out to every left row referencing that join
  key. The probe for "which left rows reference these values" is either
  a :class:`~bcdc2bcdc_spark.sources.index.SecondaryIndex` on the FK
  column (bucket-pruned: index buckets → left keys → left buckets; the
  index is itself feed-maintained, so the whole pipeline is O(changes))
  or, without an index, one column-pruned scan of the left table
  semi-joined against the (broadcast) changed-key set;
* affected left rows are point-read (``left.lookup``), their dimension
  rows are point-read (``right.lookup``), the join is recomputed for
  exactly those keys, and the view table absorbs the result as one
  MERGE — including DELETEs for keys that left the view (left-side
  delete, or an inner join losing its match).

Because each refresh recomputes affected keys from the CURRENT table
states, replaying an interval after a crash between the view commit and
the state write is idempotent — same contract as SecondaryIndex.

The join is a key-equality FK enrichment: ``on`` must be exactly the
right table's key columns, so every left row matches at most one right
row and view-row identity stays the left key. ``how`` ∈ {"inner",
"left"}. (Many-to-many joins change row identity and are out of scope —
that is a different materialization, not a parameter.)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from bcdc2bcdc_spark.schema import OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.fs import LocalFS
from bcdc2bcdc_spark.sources.index import SecondaryIndex
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable


@dataclass
class IncrementalJoinView:
    """Materialized ``left ⋈ right`` on ``on`` (== right.key_cols),
    stored as a lake table at ``path`` and advanced from both feeds."""

    left: HashBucketParquetTable
    right: HashBucketParquetTable
    path: str
    on: tuple[str, ...]
    how: str = "inner"
    #: optional feed-maintained index on the left table's ``on`` columns;
    #: makes the right-driven probe bucket-pruned instead of a scan.
    fk_index: SecondaryIndex | None = None
    n_buckets: int = 16
    fs: object = field(default_factory=LocalFS)

    def __post_init__(self) -> None:
        if self.how not in ("inner", "left"):
            raise ValueError(f"how must be 'inner' or 'left', got {self.how!r}")
        if tuple(self.on) != tuple(self.right.key_cols):
            raise ValueError(
                f"on={list(self.on)} must be exactly the right table's key "
                f"columns {list(self.right.key_cols)} — the view is a "
                "≤1-match FK enrichment, not a general join"
            )
        if self.fk_index is not None and tuple(self.fk_index.index_cols) != tuple(
            self.on
        ):
            raise ValueError(
                f"fk_index covers {list(self.fk_index.index_cols)}, "
                f"view joins on {list(self.on)}"
            )

    # -- storage ----------------------------------------------------------

    @property
    def state_path(self) -> str:
        return os.path.join(self.path, "_joinview.json")

    def _right_payload(self) -> list:
        fields = [
            f
            for f in self.right.data_schema().fields
            if f.name not in self.right.key_cols
        ]
        left_names = {f.name for f in self.left.data_schema().fields}
        clash = sorted({f.name for f in fields} & left_names)
        if clash:
            raise ValueError(
                f"right payload columns {clash} collide with left columns — "
                "rename them in the right table"
            )
        return fields

    def _table(self) -> HashBucketParquetTable:
        rp = [f.name for f in self._right_payload()]
        lp = [
            f.name
            for f in self.left.data_schema().fields
            if f.name not in self.left.key_cols
        ]
        return HashBucketParquetTable(
            self.left.spark,
            os.path.join(self.path, "table"),
            key_cols=tuple(self.left.key_cols),
            n_buckets=self.n_buckets,
            compare_cols=tuple(lp) + tuple(rp),
        )

    def _state(self) -> dict:
        if not self.fs.exists(self.state_path):
            raise ValueError(f"no join view at {self.path} — call build() first")
        st = self.fs.read_json(self.state_path)
        if st.get("on") != list(self.on) or st.get("how") != self.how:
            raise ValueError(
                f"view at {self.path} was built with on={st.get('on')} "
                f"how={st.get('how')!r} but this handle was opened with "
                f"on={list(self.on)} how={self.how!r} — mixing join "
                "semantics in one materialization corrupts it"
            )
        return st

    def _write_state(
        self,
        left_seq: int,
        right_seq: int,
        inflight_to: tuple[int, int] | None = None,
    ) -> None:
        st = {
            "left_seq": left_seq,
            "right_seq": right_seq,
            "on": list(self.on),
            "how": self.how,
        }
        if inflight_to is not None:
            # write-ahead intent: the interval pair being applied; a crash
            # before the next plain write replays exactly this pair
            st["inflight_to"] = [int(inflight_to[0]), int(inflight_to[1])]
        self.fs.write_json_atomic(self.state_path, st)

    # -- join plan ---------------------------------------------------------

    def _joined(self, lrows: DataFrame, rrows: DataFrame) -> DataFrame:
        rp = [f.name for f in self._right_payload()]
        return lrows.join(
            rrows.select(*self.on, *rp), list(self.on), self.how
        )

    # -- build / maintain -------------------------------------------------

    def build(self) -> tuple[int, int]:
        """Full build from the two tables' PINNED current versions (one
        shuffle join — at scale, co-bucket both tables on ``on`` or let
        AQE broadcast the dimension side)."""
        lseq, rseq = self.left.commit_seq(), self.right.commit_seq()
        self._table().init(
            self._joined(self.left.read_version(lseq), self.right.read_version(rseq))
        )
        self._write_state(lseq, rseq)
        return lseq, rseq

    def read(self) -> DataFrame:
        return self._table().read()

    def refresh(self) -> dict:
        """Advance to both tables' current versions from their feeds —
        see the module docstring for the O(affected rows) plan.

        Crash safety is a WRITE-AHEAD INTENT (same scheme as
        SecondaryIndex/SCD2History): the target interval PAIR is recorded
        before it is applied, so a crash between the view commit and the
        state write replays exactly that pair. Affected keys are always
        recomputed from the CURRENT table states, so the replay converges
        even when the tables advanced after the crash — what the intent
        prevents is the wider net feed SKIPPING a key whose post-crash
        changes cancelled out while the crashed apply had already
        materialized its intermediate value."""
        st = self._state()
        l0, r0 = int(st["left_seq"]), int(st["right_seq"])
        lfrom, rfrom = l0, r0
        affected = 0
        infl = st.get("inflight_to")
        if infl is not None and (int(infl[0]) > lfrom or int(infl[1]) > rfrom):
            affected += self._apply_interval(
                lfrom, rfrom, int(infl[0]), int(infl[1])
            )
            lfrom, rfrom = int(infl[0]), int(infl[1])
            self._write_state(lfrom, rfrom)
        lcur, rcur = self.left.commit_seq(), self.right.commit_seq()
        if lcur < lfrom or rcur < rfrom:
            raise ValueError(
                f"view at ({lfrom},{rfrom}) is AHEAD of tables at "
                f"({lcur},{rcur}) — were the base tables re-initialized? "
                "rebuild the view"
            )
        if (lcur, rcur) != (lfrom, rfrom):
            self._write_state(lfrom, rfrom, inflight_to=(lcur, rcur))
            affected += self._apply_interval(lfrom, rfrom, lcur, rcur)
            self._write_state(lcur, rcur)
        return {
            "affected": affected,
            "left_seq": max(lcur, lfrom),
            "right_seq": max(rcur, rfrom),
        }

    def _apply_interval(self, lfrom: int, rfrom: int, lcur: int, rcur: int) -> int:
        """Apply ONE pinned interval pair: affected keys from the pinned
        feeds, recompute from the current table states."""
        lk = list(self.left.key_cols)
        parts = []
        if lcur > lfrom:
            parts.append(self.left.read_changes(lfrom, lcur).select(*lk))
        if rcur > rfrom:
            # no ``distinct`` on the probe keys: the feed has one row per
            # right key whose state changed, and ``on`` == right.key_cols,
            # so the projection is already duplicate-free
            rkeys = self.right.read_changes(rfrom, rcur).select(*self.on)
            if self.fk_index is not None:
                self.fk_index.refresh()
                parts.append(self.fk_index.lookup(rkeys).select(*lk))
            else:
                parts.append(
                    self.left.read()
                    .join(F.broadcast(rkeys), list(self.on), "left_semi")
                    .select(*lk)
                )
        # persist: the affected-key set drives the left point-read, the
        # delete anti-join, and the bookkeeping aggregate — one
        # materialization. Both feeds union BEFORE the one distinct
        # (one shuffle instead of one per feed, guide §2.4).
        keys = reduce(lambda a, b: a.unionByName(b), parts).distinct().persist()
        view = self._table()
        try:
            # ONE bookkeeping job yields the affected count AND both
            # tables' touched-bucket sets (each bounded by its
            # n_buckets), replacing three serial driver jobs: the count,
            # left.lookup's bucket discovery, and the view upsert's
            # touched discovery (guide §1/§2: the refresh cost at scale
            # is serial job count, not data).
            row = keys.select(
                self.left.bucket_expr().alias("_lb"),
                view.bucket_expr().alias("_vb"),
            ).agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set("_lb").alias("_lbs"),
                F.collect_set("_vb").alias("_vbs"),
            ).first()
            n = int(row["_n"])
            if n:
                # persist: the affected left rows feed the right-side
                # bucket discovery (a collect), the join, and the
                # delete anti-join — point-read them once
                lrows = self.left.lookup(
                    keys, buckets=sorted({int(b) for b in row["_lbs"]})
                ).persist()
                need = (
                    lrows.select(*self.on)
                    .where(
                        reduce(
                            lambda a, b: a & b,
                            [F.col(c).isNotNull() for c in self.on],
                        )
                    )
                    .distinct()
                )
                # persist: the recomputed join feeds BOTH the present rows
                # and the gone anti-join inside the one staging write —
                # uncached it would execute (and re-read the right-side
                # buckets) twice in that job
                cur = self._joined(lrows, self.right.lookup(need)).persist()
                present = cur.withColumn("op", F.lit(OP_UPDATE))
                schema = view.data_schema()
                payload = [f for f in schema.fields if f.name not in lk]
                gone = keys.join(cur.select(*lk), lk, "left_anti").select(
                    *lk,
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in payload
                    ],
                ).withColumn("op", F.lit(OP_DELETE))
                try:
                    # the view rows are keyed by left keys ⊆ ``keys``, so
                    # the precomputed view-bucket set is a valid touched
                    # superset — the upsert skips its discovery job
                    view.upsert(
                        present.unionByName(gone),
                        touched=sorted({int(b) for b in row["_vbs"]}),
                    )
                finally:
                    cur.unpersist()
                    lrows.unpersist()
        finally:
            keys.unpersist()
        return n
