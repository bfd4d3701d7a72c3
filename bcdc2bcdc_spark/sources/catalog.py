"""Multi-table catalog: consistent cross-table snapshots + coordinated
rollback.

The reference operates on a SET of entity types as one logical unit —
users, groups, orgs and packages are synced in one run, in FK order
(``/root/reference/bin/runBCDC2BCDC.py:286-289``), and a run summary
describes the whole set. Per-table commits alone cannot answer "what did
the WHOLE lake look like when the run finished?" — readers joining
tables pinned at unrelated versions see FK states that never coexisted.

:class:`LakeCatalog` is the metadata layer for that question. It owns no
data: a catalog version is one atomically-written JSON fact mapping every
registered table to the ``commit_seq`` it was at — Iceberg's
"snapshot of snapshots" / a transaction log over table pointers.

* ``snapshot()`` — record the current (table → seq) vector as a new
  catalog version. Call it at run boundaries (after a
  MultiTableReplicator pass, after a pipeline epoch) to publish "these
  versions belong together".
* ``read(name, version=...)`` — a table AS OF a catalog version: every
  table read through the same catalog version yields a mutually
  consistent join surface (valid while each table's generations survive
  its retention window — same contract as ``read_version``).
* ``restore(version)`` — coordinated rollback: every registered table is
  ``restore()``d to its pinned seq (each a metadata-only commit), then
  the post-restore state is snapshotted as a NEW catalog version.
  Partial-failure honesty: tables are restored one by one; if a restore
  raises (e.g. expired generations), the already-restored tables stay
  restored and the exception reports which table failed — the catalog
  file itself is only advanced after ALL tables succeed, so a re-run
  resumes the same target trivially (restore is idempotent per table).

At 100 TB the catalog stays a few KB per version — it scales with table
COUNT, not data size — and adds zero work to the tables' own write
paths.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from bcdc2bcdc_spark.sources.fs import LocalFS


@dataclass
class LakeCatalog:
    """Catalog rooted at ``path``; tables register by name."""

    path: str
    fs: object = field(default_factory=LocalFS)
    _tables: dict = field(default_factory=dict)

    @property
    def state_path(self) -> str:
        return os.path.join(self.path, "_catalog.json")

    def register(self, name: str, table) -> "LakeCatalog":
        """Attach a table handle under ``name`` (chainable). Registration
        is per-process wiring; the persisted catalog versions only store
        names + paths + seqs."""
        self._tables[name] = table
        return self

    def _require(self, name: str):
        if name not in self._tables:
            raise ValueError(
                f"table {name!r} not registered; have {sorted(self._tables)}"
            )
        return self._tables[name]

    def _state(self) -> dict:
        if not self.fs.exists(self.state_path):
            return {"versions": {}}
        return self.fs.read_json(self.state_path)

    def versions(self) -> list[int]:
        return sorted(int(v) for v in self._state()["versions"])

    def _pins(self, version: int) -> dict:
        st = self._state()
        key = str(version)
        if key not in st["versions"]:
            raise ValueError(
                f"no catalog version {version}; have {self.versions()}"
            )
        return st["versions"][key]

    # -- snapshot / read --------------------------------------------------

    def snapshot(self) -> int:
        """Publish the current (table → commit_seq) vector as the next
        catalog version; returns its number. The write is one atomic
        JSON swap — a reader either sees the whole vector or none of it.

        NOTE: the seqs are sampled table-by-table; call at a quiescent
        boundary (end of a pass/epoch, as the reference's run summary
        does) — the catalog makes co-published versions consistent, it
        does not freeze concurrent writers mid-pass."""
        st = self._state()
        ver = max((int(v) for v in st["versions"]), default=0) + 1
        st["versions"][str(ver)] = {
            name: {"path": t.path, "seq": t.commit_seq()}
            for name, t in sorted(self._tables.items())
        }
        self.fs.write_json_atomic(self.state_path, st)
        return ver

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """``name`` as of catalog ``version`` (default: latest snapshot).
        All reads through one version form a consistent join surface."""
        t = self._require(name)
        if version is None:
            vs = self.versions()
            if not vs:
                raise ValueError("no catalog snapshot yet — call snapshot()")
            version = vs[-1]
        pins = self._pins(version)
        if name not in pins:
            raise ValueError(
                f"table {name!r} is not in catalog version {version} "
                f"(registered later?); that version pins {sorted(pins)}"
            )
        return t.read_version(int(pins[name]["seq"]))

    # -- multi-table transaction ------------------------------------------

    def transaction(self) -> "CatalogTransaction":
        """Begin a multi-table write that becomes visible to CATALOG
        READERS atomically: each table's change set is STAGED through its
        write–audit–publish path (``stage_upsert`` — the full merge jobs
        run, nothing commits), the staged states can be audited together,
        and ``commit()`` publishes every staging then advances the
        catalog with one atomic snapshot — the transaction's single
        visibility point for anyone reading through catalog versions.

        Honesty about the boundary: the per-table publishes are
        individually atomic but sequential, so a reader going DIRECTLY to
        the tables (not through the catalog) can observe table A's new
        state before table B's — exactly Iceberg's multi-table commit
        situation before catalog-level transactions. A crash between
        publishes leaves published tables published and the catalog
        un-advanced; re-running the transaction re-stages from current
        state and converges (MERGE is idempotent). Any
        ``ConcurrentWriteError`` at publish aborts the remaining
        stagings (``abandon``) — already-published tables stay, again
        converging on re-run."""
        return CatalogTransaction(self)

    # -- coordinated rollback --------------------------------------------

    def restore(self, version: int) -> int:
        """Roll EVERY table in catalog ``version`` back to its pinned
        seq (each a metadata-only ``restore`` commit), then snapshot the
        result as a new catalog version and return its number. Tables
        registered after the target version was taken are left untouched
        (and reported in the new snapshot at their current seq)."""
        pins = self._pins(version)
        unknown = sorted(set(pins) - set(self._tables))
        if unknown:
            raise ValueError(
                f"catalog version {version} pins unregistered tables "
                f"{unknown} — register them before restoring"
            )
        for name in sorted(pins):
            try:
                self._tables[name].restore(int(pins[name]["seq"]))
            except Exception as e:
                raise RuntimeError(
                    f"coordinated restore to catalog version {version} "
                    f"failed at table {name!r}: {e} — previously restored "
                    "tables remain restored; fix and re-run (per-table "
                    "restore is idempotent)"
                ) from e
        return self.snapshot()


@dataclass
class CatalogTransaction:
    """Staged multi-table write (see ``LakeCatalog.transaction``).

    Lifecycle: ``stage(name, changes)`` per table (runs that table's full
    merge write, commits nothing), optionally ``read(name)`` any staged
    would-be state for a cross-table audit, then exactly one of
    ``commit()`` / ``abort()``."""

    catalog: LakeCatalog
    _staged: dict = field(default_factory=dict)
    done: str | None = None  # "committed" | "aborted"

    def stage(self, name: str, changes: DataFrame):
        self._check_open("stage")
        if name in self._staged:
            raise ValueError(
                f"table {name!r} already staged in this transaction — "
                "union the change sets instead (one MERGE per table)"
            )
        t = self.catalog._require(name)
        self._staged[name] = t.stage_upsert(changes)
        return self

    def read(self, name: str) -> DataFrame:
        """The WOULD-BE state of a staged table (current state if the
        table is registered but not staged) — the cross-table audit
        surface: e.g. join staged facts against staged dims and check FK
        integrity before anything commits."""
        self._check_open("read")
        if name in self._staged:
            return self._staged[name].read()
        return self.catalog._require(name).read()

    def commit(self) -> int:
        """Publish every staging (each an atomic metadata swap), then
        advance the catalog — the one atomic visibility point for
        catalog readers. Returns the new catalog version. On a publish
        conflict (``ConcurrentWriteError``) the remaining stagings are
        abandoned and the error re-raised; re-run the transaction."""
        self._check_open("commit")
        names = sorted(self._staged)
        for i, name in enumerate(names):
            try:
                self._staged[name].publish()
            except Exception:
                # abandon only the NOT-YET-ATTEMPTED stagings. The one
                # that raised is deliberately left alone: its publish may
                # have failed AFTER the atomic manifest swap (e.g. an I/O
                # error in the post-commit history write), in which case
                # the live manifest references its generation and
                # abandon()'s remove_dir would destroy committed data. An
                # unpublished leftover is ordinary never-referenced
                # garbage, swept after the staging grace period.
                for later in names[i + 1 :]:
                    st = self._staged[later]
                    if st.done is None:
                        st.abandon()
                self.done = "aborted"
                raise
        self.done = "committed"
        return self.catalog.snapshot()

    def abort(self) -> None:
        """Abandon every staging; no table and no catalog state moved."""
        if self.done == "committed":
            raise RuntimeError("transaction already committed")
        for st in self._staged.values():
            if st.done is None:
                st.abandon()
        self.done = "aborted"

    def _check_open(self, action: str) -> None:
        if self.done:
            raise RuntimeError(
                f"cannot {action}: transaction already {self.done}"
            )
