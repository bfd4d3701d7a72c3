"""Feed-refreshed secondary (alternate-key) index over a lake table.

The reference resolves objects by ALTERNATE keys as readily as by the
canonical one: every dataset keeps a ``uniqueidRecordLookup`` dict built
by walking the full record list (``/root/reference/bcdc2bcdc/
CKANData.py:1264-1271``, ``:1273-1285``), deletes are addressed by "the
names or ids" of destination objects (``CKANData.py:883``), and the API
layer fetches users/orgs by name through ``user_show``/
``organization_show`` (``/root/reference/bcdc2bcdc/CKAN.py:539``,
``:564``, ``:579``). That design rebuilds an in-memory dict from a full
dump every run — at 100 TB neither the dump nor the dict fits anywhere.

Spark-first re-expression: the alt-key → primary-key mapping IS a lake
table (``HashBucketParquetTable``), bucketed by the alt key alone
(``bucket_cols``) so a probe by alt value prunes to k/n_buckets of the
index, while its MERGE identity is ``(alt key, primary key)`` so
non-unique alt values are a set of entries, not a conflict. The index is
advanced incrementally from the base table's change data feed
(``read_changes(include_pre=True)``): maintenance cost is O(changes) —
the base table is never rescanned after the initial build — exactly the
incremental-MV contract (operators/mv.py) applied to an index.

Probe path at 100 TB (``lookup``)::

    alt values ──hash──▶ index buckets (k/n_buckets of the INDEX, which
      is itself ~1/1000th of the base table: keys only, no payload)
        ──semi-join──▶ primary keys
          ──base.lookup()──▶ base buckets (manifest-pruned, broadcast
            semi-join)

    Two bounded point reads; the base table's payload columns are read
    only for the final matching buckets.

Staleness is explicit: every build/refresh records the base
``commit_seq`` it reflects; ``lookup`` refuses (``StaleIndexError``) to
serve from an index that lags the base table unless the caller opts in —
an async index can miss keys, never invent rows (the final hop reads the
CURRENT base state).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.fs import LocalFS
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable, _bucket_expr


class StaleIndexError(RuntimeError):
    """The index lags the base table (base committed since the last
    build/refresh). Call ``refresh()`` first, or pass
    ``allow_stale=True`` to probe the index as of its last refresh —
    results then come from the CURRENT base state but keys that changed
    alt value since the refresh may be missed."""


@dataclass
class SecondaryIndex:
    """Alternate-key index over ``base``, stored at ``path``.

    ``index_cols`` — the alt-key columns (need not be unique across base
    rows; NULL alt values are unindexable and skipped, mirroring SQL
    index + NULL-probe semantics).
    """

    base: HashBucketParquetTable
    path: str
    index_cols: tuple[str, ...]
    n_buckets: int = 16
    fs: object = field(default_factory=LocalFS)

    def __post_init__(self) -> None:
        overlap = set(self.index_cols) & set(self.base.key_cols)
        if overlap:
            raise ValueError(
                f"index_cols {sorted(overlap)} are base key columns — the "
                "base table already prunes lookups on its own key"
            )
        missing = set(self.index_cols) - {
            f.name for f in self.base.data_schema().fields
        } if self.base.exists() else set()
        if missing:
            raise ValueError(
                f"index_cols {sorted(missing)} not in base table schema"
            )

    # -- storage ----------------------------------------------------------

    @property
    def state_path(self) -> str:
        return os.path.join(self.path, "_index.json")

    def _table(self) -> HashBucketParquetTable:
        """The index entries AS a lake table: keyed by (alt, primary) —
        entry identity — but bucketed by the alt columns alone so probes
        that know only the alt value prune. No payload ⇒ empty compare
        set (entries are pure mappings; presence IS the state)."""
        return HashBucketParquetTable(
            self.base.spark,
            os.path.join(self.path, "table"),
            key_cols=tuple(self.index_cols) + tuple(self.base.key_cols),
            bucket_cols=tuple(self.index_cols),
            n_buckets=self.n_buckets,
            compare_cols=(),
        )

    def _state(self) -> dict:
        if not self.fs.exists(self.state_path):
            raise ValueError(
                f"no index at {self.path} — call build() first"
            )
        st = self.fs.read_json(self.state_path)
        if st.get("index_cols") != list(self.index_cols):
            raise ValueError(
                f"index at {self.path} covers {st.get('index_cols')} but this "
                f"handle was opened with index_cols={list(self.index_cols)}"
            )
        return st

    def indexed_seq(self) -> int:
        """The base commit_seq the index currently reflects."""
        return int(self._state()["indexed_seq"])

    def _write_state(self, seq: int, inflight_to: int | None = None) -> None:
        st = {
            "indexed_seq": seq,
            "index_cols": list(self.index_cols),
            "base_path": self.base.path,
        }
        if inflight_to is not None:
            # write-ahead intent: an interval [seq, inflight_to] is being
            # applied; a crash before the next plain write replays it exactly
            st["inflight_to"] = int(inflight_to)
        self.fs.write_json_atomic(self.state_path, st)

    def _entry_valid(self, cols) -> F.Column:
        return reduce(
            lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
        )

    # -- build / maintain -------------------------------------------------

    def build(self, as_of: int | None = None) -> int:
        """Full build from a PINNED base version (defaults to the current
        commit): one projection scan of the base — keys + alt columns
        only, payload never read — one shuffle into alt-hashed buckets.
        Returns the indexed commit_seq. Crash-safe in the same way as any
        table init: the state file is written only after the index
        table's manifest commit."""
        seq = self.base.commit_seq() if as_of is None else int(as_of)
        snap = self.base.read_version(seq)
        entries = snap.select(*self.index_cols, *self.base.key_cols).where(
            self._entry_valid(self.index_cols)
        )
        self._table().init(entries)
        self._write_state(seq)
        return seq

    def refresh(self) -> dict:
        """Advance the index to the base table's current version by
        applying ONLY its change feed since the last indexed version —
        O(changes) work, bucket-pruned on both sides (the feed reads
        manifest-diff base buckets; the upsert rewrites touched index
        buckets).

        Per feed row: ADD → insert (alt, key); DELETE → drop the
        PRE-image entry; UPDATE whose alt value moved → drop old entry +
        insert new one; UPDATE with an unchanged alt value → no index
        work at all.

        Crash safety is a WRITE-AHEAD INTENT: the target seq is recorded
        BEFORE the interval is applied, so a crash between the index
        commit and the state write replays EXACTLY the recorded interval
        (idempotent: re-inserting an existing entry and re-deleting an
        absent one are no-ops) — never a wider one, whose net feed could
        cancel an alt-move the crashed apply already materialized and
        leave a phantom entry behind."""
        st = self._state()
        frm0 = frm = int(st["indexed_seq"])
        entries = 0
        inflight = st.get("inflight_to")
        if inflight is not None and int(inflight) > frm:
            entries += self._apply_interval(frm, int(inflight))
            frm = int(inflight)
            self._write_state(frm)
        cur = self.base.commit_seq()
        if cur < frm:
            raise ValueError(
                f"index at seq {frm} is AHEAD of base at {cur} — was the "
                "base table re-initialized? rebuild the index"
            )
        if cur > frm:
            self._write_state(frm, inflight_to=cur)  # intent: [frm, cur]
            entries += self._apply_interval(frm, cur)
            self._write_state(cur)
        return {"from_seq": frm0, "to_seq": max(cur, frm), "entries": entries}

    def _apply_interval(self, frm: int, cur: int) -> int:
        """Apply the net feed of ONE pinned interval to the index."""
        # persist: the dels and adds branches BOTH read the feed's
        # full-outer join — one materialization serves the pair (and the
        # downstream count + upsert)
        feed = self.base.read_changes(frm, cur, include_pre=True).persist()
        ic = list(self.index_cols)
        kc = list(self.base.key_cols)
        pre = [f"pre_{c}" for c in ic]
        moved = reduce(
            lambda a, b: a | b,
            [~F.col(c).eqNullSafe(F.col(p)) for c, p in zip(ic, pre)],
        )
        dels = (
            feed.where(
                (F.col("op") == OP_DELETE)
                | ((F.col("op") == OP_UPDATE) & moved)
            )
            .where(self._entry_valid(pre))
            .select(*[F.col(p).alias(c) for c, p in zip(ic, pre)], *kc)
            .withColumn("op", F.lit(OP_DELETE))
        )
        adds = (
            feed.where(
                (F.col("op") == OP_ADD) | ((F.col("op") == OP_UPDATE) & moved)
            )
            .where(self._entry_valid(ic))
            .select(*ic, *kc)
            .withColumn("op", F.lit(OP_ADD))
        )
        # persist: the feed's full-outer join materializes ONCE and serves
        # both the entry count and the upsert's bucket-discovery + merge
        changes = dels.unionByName(adds).persist()
        try:
            n = changes.count()
            if n:
                self._table().upsert(changes)
        finally:
            changes.unpersist()
            feed.unpersist()
        return n

    # -- probe ------------------------------------------------------------

    def entries(self) -> DataFrame:
        """The raw (alt..., primary-key...) mapping — for audits/tests."""
        return self._table().read()

    def lookup(self, values: DataFrame, allow_stale: bool = False) -> DataFrame:
        """CURRENT base rows whose alt key matches ``values`` (a small
        DataFrame of exactly the index columns). Index buckets are pruned
        by the alt-value hash (one bucket id collected per probe row, no
        ``distinct``: an inline probe's hash folds at plan time and runs
        no job), entries semi-join against the broadcast probe set, and
        the resulting primary keys fan into ``base.lookup`` — never a base
        scan. The broadcast semi-joins ignore duplicate probe rows, so
        neither the probe nor the keys are deduplicated."""
        st = self._state()
        if not allow_stale and self.base.commit_seq() != int(st["indexed_seq"]):
            raise StaleIndexError(
                f"index reflects base commit {st['indexed_seq']} but base "
                f"is at {self.base.commit_seq()} — refresh() first or pass "
                "allow_stale=True"
            )
        t = self._table()
        meta = t._meta()
        ic = list(self.index_cols)
        probe = values.select(*ic)
        buckets = sorted(
            {r[0] for r in probe.select(_bucket_expr(ic, t._n_buckets(meta))).collect()}
        )
        ents = (
            t._read_merged_raw(buckets=buckets, meta=meta)
            .drop("_digest")
            .join(F.broadcast(probe), ic, "left_semi")
        )
        keys = ents.select(*self.base.key_cols)
        # re-filter the CURRENT base rows against the probe: with
        # allow_stale=True an index entry may point at a key whose alt
        # value has since moved — the contract is "may MISS keys, never
        # invent rows", so a returned row must actually match the probe
        return self.base.lookup(keys).join(
            F.broadcast(probe), ic, "left_semi"
        )
