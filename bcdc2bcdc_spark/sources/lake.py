"""Lake table sinks — the upsert target (S7/S8/S9 as one MERGE).

The reference applies its delta as sorted sequential create/update/delete
REST calls (/root/reference/bcdc2bcdc/CKANUpdate.py:395-460) with an
"entity exists in deleted state → update instead" fallback
(CKAN.py:687-723). At lake scale those are the three branches of a single
idempotent MERGE INTO. Two interchangeable backends behind one interface:

* ``IcebergLakeTable``  — emits real ``MERGE INTO`` SQL against an Iceberg
  catalog table bucketed by ``bucket(N, repo)``. The production path; the
  runtime jar is not present in this sandbox, so only SQL generation is
  exercised by tests (gated import-try at session build).
* ``HashBucketParquetTable`` — same semantics on plain parquet: rows are
  hash-bucketed by business key (``pmod(xxhash64(repo, path), n_buckets)``)
  and an upsert rewrites ONLY the buckets the change set touches: the
  change set is shuffled by bucket, and one Arrow task per bucket folds
  its change group into that bucket's files and writes the bucket anew.
  Work per upsert is O(touched buckets), not O(table) — the same
  read-amplification profile as Iceberg copy-on-write MERGE. Commits are ATOMIC via a manifest pointer (Iceberg's snapshot
  pattern on plain parquet): each upsert writes a fresh immutable
  generation directory, then swaps the bucket→generation map in
  ``_table.json`` with one atomic rename; a crash anywhere before the
  swap leaves the previous table state fully intact, and orphaned
  generations from crashed attempts are swept after the next commit.

Write modes (Iceberg v2's ``write.merge.mode`` duality):

* ``cow`` (copy-on-write, the default) — each upsert merges and REWRITES
  the touched buckets, one merge task per bucket
  (``datasource.cow_merge_bucket``). Write amplification O(touched
  buckets), reads are a plain scan. Right for batch-sized epochs touching a small bucket
  fraction.
* ``mor`` (merge-on-read) — each upsert APPENDS the change set as an
  immutable delta generation (op column retained as the tombstone/upsert
  marker) and the manifest records, per bucket, the ordered delta list.
  Write amplification O(changes) — independent of bucket size — while
  reads fold base + deltas per key (one hash aggregate, no window).
  Right for high-frequency small epochs and hot-bucket skew, where CoW
  would rewrite the same gigabyte bucket every few seconds.
  ``compact_deltas()`` folds deltas back into the base (Iceberg's
  rewrite actions), restoring scan-speed reads; read-time-merge results
  are bit-identical before and after.

One generation writer. Every generation — ``init``, an upsert, a
maintenance rewrite — is staged by ``_write_generation``: one Arrow task
per bucket writes the bucket's one parquet file
(``datasource._write_bucket_file``), folding a CoW change group into the
bucket or writing its rows as given.

One commit path. An upsert is a staging published at once: ``_stage``
runs the bucket tasks (a CoW merge or a MOR delta) and returns a
``StagedUpsert``; ``upsert`` publishes it immediately, ``stage_upsert``
hands it to the caller for an audit first. ``_apply_generation`` is the
one mapping of a staged generation into a manifest (CoW swap, MOR delta
append, full-table replace), shared by the commit and the audit preview.
Every manifest change — upserts, publishes, maintenance rewrites,
metadata flips, ``restore`` — goes through the one commit head
``_commit``: it re-reads the manifest, aborts with
``ConcurrentWriteError`` unless ``commit_seq`` is still the caller's
expected sequence, applies the caller's mutation and hands the manifest
to ``_finalize_commit`` for the atomic swap.

Write-guard: like the reference's ``CKAN_DO_NOT_WRITE_URL`` check
(CKAN.py:431-460), a table opened with ``protected=True`` refuses mutation.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from bcdc2bcdc_spark.functions.digest import with_row_digest
from bcdc2bcdc_spark.operators.diff import COMPARE_COLS
from bcdc2bcdc_spark.schema import KEY_COLS, OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.datasource import (
    _changed_entries,
    _redigest_cols,
    _redigest_cols_between,
)
from bcdc2bcdc_spark.sources.fs import LocalFS


class ProtectedTableError(RuntimeError):
    """Raised on any mutation of a write-guarded table (S10 analog)."""


class ConcurrentWriteError(RuntimeError):
    """The manifest advanced between this writer's base read and its commit
    attempt (another writer committed first). The losing writer's staged
    generation is left unreferenced — the table keeps the winner's state
    intact — and is swept after the next successful commit. Retry by
    re-running the upsert against the new table state."""


def _bucket_expr(key_cols: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


#: bits per dimension for Z-order ranks (2^6 = 64 quantile cells per
#: column). Row-group pruning only needs one row group to span a narrow
#: slice of each clustered dimension, and a bucket file holds at most a
#: handful of row groups — 64×64 cells for two columns is already far
#: finer than that. 6 bits also keeps the interleaved value within a
#: long for up to 10 dimensions.
_Z_BITS = 6


def _z_surrogate_np(s, dt):
    """An order-preserving NUMERIC image of one cluster column (a pandas
    column of a bucket's rows), for quantile ranking. Strings use a
    2-byte code-point prefix (coarse for non-ASCII data — ranks only need
    a monotone image, not an injection); a NULL string maps to -256,
    below every string. Booleans and numerics cast, with NULL as NaN and
    a float NaN as +inf, the place Spark's ordering gives it."""
    import numpy as np
    import pandas as pd

    na = s.isna().to_numpy()
    if isinstance(dt, T.StringType):
        vals = s.to_numpy(dtype=object)
        first = [-1 if n else (ord(v[0]) if v else 0) for v, n in zip(vals, na)]
        second = [0 if n or len(v) < 2 else ord(v[1]) for v, n in zip(vals, na)]
        return np.array(first, dtype=np.float64) * 256 + np.array(second, dtype=np.float64)
    out = pd.to_numeric(s, errors="coerce").astype("Float64")
    vals = out.to_numpy(dtype=np.float64, na_value=np.nan)
    vals[np.isnan(vals) & ~na] = np.inf
    vals[na] = np.nan
    return vals


def _z_rank_np(surrogate, splits):
    """Quantile cell id (0 .. len(splits)) of each surrogate value: how
    many of the sorted, unique ``splits`` it is ≥ of; NaN (NULL) ranks 0
    (NULLS FIRST)."""
    import numpy as np

    rank = np.searchsorted(np.asarray(splits, dtype=np.float64), surrogate, side="right")
    return np.where(np.isnan(surrogate), 0, rank).astype(np.int64)


def _z_interleave_np(ranks):
    """Bit-interleave per-dimension cell ids into one sort value: bit i
    of dimension d lands at position i*D + d, so the sort refines all
    dimensions together instead of exhausting the first one first."""
    import numpy as np

    n_dims = len(ranks)
    z = np.zeros(len(ranks[0]), dtype=np.int64)
    for i in range(_Z_BITS):
        for d, r in enumerate(ranks):
            z += ((r >> i) & 1) << (i * n_dims + d)
    return z


def _z_values_np(df, cols, types):
    """The Z-value of each row of one bucket's rows, the only Z-order of
    the lake (``datasource._cluster_sort`` sorts by it in every bucket
    task): each cluster column's surrogate is ranked into ``2^_Z_BITS``
    cells by exact quantile split points taken from these rows (an
    all-NULL column contributes rank 0), then the ranks' bits are
    interleaved."""
    import numpy as np

    probs = [j / (1 << _Z_BITS) for j in range(1, 1 << _Z_BITS)]
    ranks = []
    for c in cols:
        s = _z_surrogate_np(df[c], types[c])
        live = s[~np.isnan(s)]
        if not len(live):
            ranks.append(np.zeros(len(s), dtype=np.int64))
            continue
        splits = np.unique(np.quantile(live, probs, method="inverted_cdf"))
        ranks.append(_z_rank_np(s, splits))
    return _z_interleave_np(ranks)


#: buckets per CoW merge task (``_cow_merged_plan``): a task costs about
#: as much as merging a few ~1k-row buckets (Python worker, Arrow round
#: trips), and every concurrent task holds its own worker. Measured on
#: 4 cores: 4 buckets in 1 task 0.11 s, in 32 partitions 0.22 s; 16
#: buckets in 1 task 0.55-0.65 s, in 4 tasks 0.31-0.37 s.
_MERGE_BUCKETS_PER_TASK = 4


#: predicate DSL ops accepted by read_where / prune_buckets. A predicate is
#: a conjunction: list of ``(col, op, value)`` triples ("in" takes a
#: sequence, "between" an inclusive (lo, hi) pair). Deliberately tiny —
#: it exists so the DRIVER can see the predicate structure and prune
#: buckets before Spark ever plans the scan; anything it can't express
#: belongs in a plain ``.filter()`` on top (which read_where callers get
#: for free: the FULL predicate is always re-applied as a residual filter,
#: so pruning is never load-bearing for correctness).
_PRED_OPS = ("=", "<", "<=", ">", ">=", "in", "between")


def compile_predicates(preds: Sequence[tuple]) -> F.Column:
    """Compile the predicate DSL to one Catalyst Column (AND of all
    triples). This is the residual filter read_where applies on top of
    whatever buckets survived pruning — Catalyst additionally pushes it
    into the parquet scan (row-group stats inside the surviving buckets)."""
    out = None
    for col, op, val in preds:
        c = F.col(col)
        if op == "=":
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(list(val))
        elif op == "between":
            lo, hi = val
            e = (c >= F.lit(lo)) & (c <= F.lit(hi))
        else:
            raise ValueError(f"unknown predicate op {op!r}; supported: {_PRED_OPS}")
        out = e if out is None else (out & e)
    return out if out is not None else F.lit(True)


def _stats_entry_excludes(entry: dict | None, op: str, val) -> bool:
    """True iff a (generation, bucket, column) min/max entry PROVES no row
    in that directory can satisfy the triple. Missing entry, incomparable
    types, NULL predicate value, or NaN bounds all return False — pruning
    only ever errs toward reading more. min/max are over NON-NULL values
    (nonnull==0 ⇒ nothing can match these ops, which never match NULL)."""
    if entry is None or val is None:
        return False
    if int(entry.get("nonnull", 1)) == 0:
        return True
    m, mx = entry.get("min"), entry.get("max")
    if m is None or mx is None:
        return False
    try:
        if op == "=":
            return bool(val < m or val > mx)
        if op == "in":
            vs = [v for v in val]
            return all(v is not None and (v < m or v > mx) for v in vs)
        if op == "<":
            return bool(m >= val)
        if op == "<=":
            return bool(m > val)
        if op == ">":
            return bool(mx <= val)
        if op == ">=":
            return bool(mx < val)
        if op == "between":
            lo, hi = val
            if lo is None or hi is None:
                return False
            return bool(mx < lo or m > hi)
    except TypeError:
        return False  # incomparable value/stat types — never exclude
    return False


def _file_schema(schema: T.StructType, delta: bool = False) -> T.StructType:
    """What a generation's files physically hold: the payload of
    ``schema``, the persisted digest and, in a MOR ``delta``, the op
    marker (ADD/UPDATE upsert vs DELETE tombstone). The bucket id is
    derivable from the keys, never stored."""
    extra = ["_digest", "op"] if delta else ["_digest"]
    return T.StructType(
        list(schema.fields) + [T.StructField(c, T.StringType(), True) for c in extra]
    )


def _apply_generation(
    meta: dict, gen: str, written: set[int], touched: Sequence[int], mode: str, seq: int
) -> None:
    """Map staged generation ``gen`` (which holds rows for the ``written``
    buckets) into manifest ``meta`` in place, as commit ``seq``:

    * ``mor`` — append ``gen`` to each written bucket's delta list;
    * ``cow`` — each touched bucket's base becomes ``gen``, or leaves the
      map when the merge emptied it, and its outstanding deltas are
      superseded (the staged output was read merged). Output outside the
      declared touched set aborts: the bucket scheme changed under the
      writer, or the caller passed an incomplete touched list;
    * ``full_replace`` — ``gen`` IS the whole table (rebucket): every prior
      mapping and delta is superseded.

    Pure: the commit applies it to the live manifest, the WAP preview to a
    copy of the staging's base manifest."""
    bmap = meta.setdefault("buckets", {})
    dmap = meta.setdefault("deltas", {})
    if mode == "mor":
        for b in sorted(written):
            dmap.setdefault(str(b), []).append({"gen": gen, "seq": seq})
        return
    if mode == "full_replace":
        bmap.clear()
        dmap.clear()
        touched = written
    extra = set(written) - {int(b) for b in touched}
    if extra:
        raise ConcurrentWriteError(
            f"staged output holds buckets {sorted(extra)} outside the "
            "declared touched set — the bucket scheme changed under "
            "this writer (concurrent rebucket?) or the caller passed "
            f"an incomplete touched list; staged generation {gen} "
            "left for the next sweep, manifest untouched"
        )
    for b in touched:
        if b in written:
            bmap[str(b)] = gen
        else:
            bmap.pop(str(b), None)  # every row deleted → bucket is empty
        dmap.pop(str(b), None)


def _live_buckets(meta: dict) -> list[int]:
    """Bucket ids holding any rows (base map ∪ outstanding MOR deltas)."""
    return sorted(
        {int(b) for b in meta.get("buckets", {})}
        | {int(b) for b in meta.get("deltas", {})}
    )


def _usable_bounds_preds(meta: dict, preds: Sequence[tuple]) -> list[tuple]:
    """The subset of a predicate conjunction that manifest column bounds
    can act on — pure metadata, no Spark, usable from the Python data
    source planning worker (sources/datasource.py pushFilters) as well as
    the driver."""
    if not meta.get("stats"):
        return []
    scols = set(meta.get("stats_cols", []))
    return [p for p in preds if p[0] in scols]


def _bounds_exclude_bucket(meta: dict, b: int, usable: Sequence[tuple]) -> bool:
    """True iff the manifest PROVES bucket ``b`` holds no matching row: for
    some predicate triple, EVERY generation contributing rows to the bucket
    (base + all outstanding MOR deltas) has a bounds entry excluding it.
    Any missing entry keeps the bucket — correct after schema evolution or
    a ``set_stats_cols`` flip. Sound under MOR merge: a merged row's
    payload always comes from SOME raw row of the bucket, so if no raw row
    can match, no merged row can."""
    if not usable:
        return False
    stats = meta.get("stats", {})
    gens = []
    if str(b) in meta.get("buckets", {}):
        gens.append(meta["buckets"][str(b)])
    gens += [e["gen"] for e in meta.get("deltas", {}).get(str(b), [])]
    return any(
        all(
            _stats_entry_excludes(stats.get(g, {}).get(str(b), {}).get(col), op, val)
            for g in gens
        )
        for col, op, val in usable
    )


#: column types whose min/max round-trip JSON losslessly and whose Python
#: ordering matches Spark's (UTF-8 code-point order for strings, numeric
#: order otherwise). Date/timestamp/decimal are deliberately out of scope —
#: their JSON round-trip would need a codec and buys little here.
_STATS_TYPES = (
    T.StringType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


@dataclass
class HashBucketParquetTable:
    """Parquet-backed upsert-able table, hash-bucketed by business key.

    Layout::

        <path>/_table.json                 metadata + bucket→generation map
        <path>/data/<gen>/_bucket=<i>/...  immutable generation directories

    The manifest's ``buckets`` map names, per bucket id, the generation
    directory currently holding its rows; buckets absent from the map are
    empty. Readers resolve the map and read exactly those directories
    (pruning by construction — no partition discovery, no listings);
    writers stage a new generation and COMMIT by atomically rewriting the
    manifest. Emptied buckets simply leave the map — no delete-then-rename
    window exists anywhere.

    ``n_buckets`` sizes the upsert read amplification: a change set touching
    k distinct buckets rewrites k/n_buckets of the table. At 100 TB pick
    n_buckets so one bucket ≈ a few GB (e.g. 8192); at test scale 16.

    Concurrent writers: every commit validates (``_commit``) that the
    manifest has not advanced since its base read and aborts with
    ``ConcurrentWriteError`` when it has (optimistic concurrency, one
    winner). Engine writers (CDCPipeline) additionally serialize via the
    checkpoint writer lock.
    """

    spark: SparkSession
    path: str
    key_cols: tuple[str, ...] = KEY_COLS
    n_buckets: int = 16
    #: columns the bucket hash is computed over — None means key_cols.
    #: Must be a SUBSET of key_cols: bucket placement has to be a function
    #: of row identity or two versions of one key could land in different
    #: buckets and the per-bucket merge would keep both. A proper subset
    #: lets probes that know only those columns prune buckets (the
    #: secondary-index table buckets by the alt key alone, sources/index.py).
    bucket_cols: tuple[str, ...] | None = None
    protected: bool = False
    #: canonical compare payload; its digest is PERSISTED as a `_digest`
    #: column so merges compare stored digests instead of recomputing over
    #: every touched row each epoch (zero digest work on the base side).
    compare_cols: tuple[str, ...] = COMPARE_COLS
    #: driver-side metadata FS (sources/fs.py): swap for an object-store
    #: implementation off-POSIX; Spark data reads/writes are unaffected.
    fs: object = field(default_factory=LocalFS)
    #: snapshot retention (Iceberg expire_snapshots analog): a generation
    #: that lost its last manifest reference at commit S is deleted only
    #: once commit_seq ≥ S + retain_generations, so reader plans pinned to
    #: an older manifest survive that many subsequent commits. Crashed
    #: never-referenced stagings are swept at the next commit once they
    #: age past ``staging_grace_s``.
    retain_generations: int = 2
    #: a concurrent writer's staging is an UNREFERENCED dir while its
    #: (possibly multi-minute) Spark write job runs — the sweep must not
    #: delete it out from under the job, or the loser dies with a random
    #: I/O error instead of the ConcurrentWriteError retry signal. An
    #: unreferenced, never-referenced dir is swept only once its ACTIVITY
    #: age (newest mtime across its directory tree — task/bucket dirs
    #: churn during the write, the top dir alone would measure time since
    #: job START) exceeds this window. Size it above the longest expected
    #: write-idle gap, not the whole job. Generations expired from the
    #: RETIRED set are exempt — they are provably old table state and are
    #: deleted deterministically at the expiring commit.
    staging_grace_s: float = 900.0
    #: ``cow`` | ``mor`` (see module docstring). Seeds ``init()`` only —
    #: once the table exists the PERSISTED mode is authoritative (like
    #: ``n_buckets``); flip it later with ``set_write_mode()``.
    write_mode: str = "cow"
    #: columns whose per-(generation, bucket) min/max are kept in the
    #: manifest (Iceberg's per-file column bounds, at this backend's
    #: pruning granularity). Seeds ``init()``; persisted thereafter (flip
    #: with ``set_stats_cols()``). Honest scope note: under HASH bucketing
    #: every bucket sees a uniform sample, so min/max on an uncorrelated
    #: payload column spans its whole domain and prunes nothing — bounds
    #: earn their keep on columns CLUSTERED with the bucket columns
    #: (e.g. per-repo homogeneous attributes) and on MOR delta
    #: generations, whose bounds cover only that commit's change set.
    #: Equality/IN predicates on the bucket columns themselves are pruned
    #: EXACTLY by hashing instead (see ``prune_buckets``) and need no
    #: stats. Empty/None = keep no stats (zero write-path cost). The
    #: manifest grows O(live generations × buckets × stats_cols): ~25 MB /
    #: ~2 s of driver JSON per commit at the measured 8192×8×4 worst case
    #: (PLANS.md "manifest scaling curve").
    stats_cols: tuple[str, ...] | None = None
    #: columns each generation's files are SORTED by within their bucket
    #: (Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order analog, single
    #: dimension). Default None = sort by key_cols. Declaring
    #: cluster_cols makes parquet row-group min/max stats SELECTIVE for
    #: range/equality predicates on those columns —
    #: the residual filter Catalyst pushes into the scan then skips row
    #: groups inside every bucket, which is where pruning has to come from
    #: for non-bucket columns (a hash bucket sees a uniform sample, so
    #: per-BUCKET bounds on an uncorrelated column never prune; per-ROW-
    #: GROUP bounds on a sorted column always do). Key columns are
    #: appended as tiebreak, so rows lose their leading-key order — the
    #: same tradeoff ZORDER makes. Seeds ``init()`` and is persisted; it
    #: is not flippable afterwards, so every generation of a table is
    #: key-sorted exactly when its manifest has no ``cluster_cols`` — the
    #: one fact the ``cdclake`` reader and the CoW merge task pick their
    #: fold by (``datasource._fold_bucket_streamed`` or the whole bucket).
    cluster_cols: tuple[str, ...] | None = None
    #: HOW multi-column cluster_cols order rows within a bucket:
    #: * "lexicographic" (default) — plain multi-column sort. Row groups
    #:   are selective on the FIRST cluster column; predicates on the
    #:   second+ columns prune poorly (each leading-value run spans the
    #:   trailing column's whole domain).
    #: * "zorder" — bit-interleaved Z-ordering (Delta OPTIMIZE ZORDER
    #:   analog): each cluster column is quantile-ranked into 2^6 cells
    #:   over the bucket being written (exact quantiles of the bucket's
    #:   own rows, in its write task: no extra Spark job) and the ranks'
    #:   bits are interleaved into one sort value (``_z_values_np``), so
    #:   row-group min/max become selective on EVERY cluster dimension at
    #:   the cost of coarser per-dimension locality.
    #: Seeds ``init()`` (an unknown value is rejected there) and is
    #: persisted; it is not flippable afterwards. Layout-only: no read
    #: path changes either way.
    cluster_strategy: str = "lexicographic"
    #: per-bucket column bounds computed for generations this handle wrote
    #: but has not yet committed (WAP stagings park here until publish; a
    #: lost commit race or ``abandon()`` drops them).
    _pending_gen_stats: dict = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    @property
    def data_path(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, "_table.json")

    def exists(self) -> bool:
        return self.fs.exists(self.meta_path)

    def _check_writable(self) -> None:
        if self.protected:
            raise ProtectedTableError(
                f"table at {self.path} is write-guarded (protected=True); "
                "refusing mutation"
            )

    def init(self, df: DataFrame) -> None:
        """Create the table from a snapshot. Overwrites any prior state.
        Computes and persists the `_digest` column. A column type the
        bucket writer cannot map to Arrow raises ``TypeError`` before
        anything is written (``_given_plan``)."""
        self._check_writable()
        bcols = list(self.bucket_cols or self.key_cols)
        if not set(bcols) <= set(self.key_cols):
            raise ValueError(
                f"bucket_cols {bcols} must be a subset of key_cols "
                f"{list(self.key_cols)} (bucket placement must be a function "
                "of row identity)"
            )
        compare = [c for c in self.compare_cols if c in df.columns]
        # the constructor's settings, not a prior table's: init overwrites
        # all prior state
        meta = {
            "key_cols": list(self.key_cols),
            "n_buckets": self.n_buckets,
            "bucket_cols": bcols,
            "compare_cols": compare,
            # what the PERSISTED `_digest` column covers; upserts may
            # only trust stored digests while this equals compare_cols
            "digest_cols": compare,
            "schema": df.schema.jsonValue(),
            "buckets": {},
            "deltas": {},
            "write_mode": self._validated_mode(self.write_mode),
            "stats_cols": list(self.stats_cols or ()),
            "cluster_cols": list(self.cluster_cols or ()),
            "cluster_strategy": self._validated_strategy(self.cluster_strategy),
            "commit_seq": 1,
        }
        gen = self._new_gen()
        rows = with_row_digest(df, compare, "_digest", impl="jvm").withColumn(
            "_bucket", _bucket_expr(bcols, self.n_buckets)
        )
        tasks = self._write_generation(self._given_plan(rows, meta, gen), gen, meta)
        meta["buckets"] = {str(b): gen for b in tasks}
        if gen in self._pending_gen_stats:
            meta["stats"] = {gen: self._pending_gen_stats.pop(gen)}
        self.fs.write_json_atomic(self.meta_path, meta)
        # init is destructive: drop any previous table's version history
        self.fs.remove_dir(os.path.join(self.path, "_history"))
        self.fs.write_json_atomic(
            os.path.join(self.path, "_history", "manifest-1.json"), meta
        )
        self._sweep_unreferenced_generations()

    @staticmethod
    def _new_gen() -> str:
        import uuid as _uuid

        return f"gen-{_uuid.uuid4().hex[:12]}"

    def _write_generation(
        self, tasks: DataFrame, gen: str, meta: dict
    ) -> dict[int, tuple[int, int]]:
        """The one staging write of every generation: run ``tasks``, one
        ``applyInArrow`` task per bucket that writes the bucket's one
        file of the new generation ``gen`` (``_given_plan`` writes rows
        as given: ``init``, the maintenance rewrites and MOR deltas;
        ``_cow_merged_plan`` folds a CoW upsert's change set), in one job
        after the input's shuffle. Nothing existing is touched. Returns
        ``{bucket: (rows, bytes)}`` for every bucket that got a task (0
        rows: a CoW merge emptied the bucket and wrote no file). The
        written buckets' bounds for ``meta``'s stats columns are read
        from the new files' footers and wait for the commit."""
        out = {int(r[0]): (int(r[1]), int(r[2])) for r in tasks.collect()}
        written = {b for b, (rows, _) in out.items() if rows}
        stats = self._collect_gen_stats(gen, written, meta)
        if stats:
            self._pending_gen_stats[gen] = stats
        return out

    def _bucket_plan(self, meta: dict, gen: str, delta: bool = False) -> dict:
        """What every bucket task of generation ``gen`` takes from the
        manifest: the output dir, the key columns, the files' Arrow schema
        (``_file_schema``; every column type must map to Arrow,
        ``datasource._arrow_schema``, else ``TypeError``) and the cluster
        layout ``datasource._cluster_sort`` orders a clustered bucket by."""
        from bcdc2bcdc_spark.sources.datasource import _arrow_schema

        schema = T.StructType.fromJson(meta["schema"])
        ccols = meta.get("cluster_cols", [])
        return {
            "out": os.path.join(self.data_path, gen),
            "key_cols": list(self.key_cols),
            "arrow_schema": _arrow_schema(_file_schema(schema, delta)),
            "cluster": {
                "cols": ccols,
                "strategy": meta.get("cluster_strategy", "lexicographic"),
                "types": {f.name: f.dataType for f in schema.fields if f.name in ccols},
            },
        }

    def _given_plan(
        self, rows: DataFrame, meta: dict, gen: str, delta: bool = False
    ) -> DataFrame:
        """The write-as-given tasks of generation ``gen``, lazy: ``rows``
        (the file columns and ``_bucket``; ``op`` too for a MOR ``delta``)
        shuffled by ``_bucket`` and written by one
        ``datasource.write_bucket_task`` per bucket. A task's work is the
        rows it is sent, so AQE may coalesce the shuffle's partitions by
        size, as it did for the Spark writer: a small generation runs in
        one Python worker. A key-sorted table's rows are sorted by
        ``(_bucket, *key_cols)`` in the shuffle's partitions — the sort
        the grouping needs anyway, extended — so each task streams its
        bucket in key order; a clustered table's task orders its bucket
        itself."""
        from bcdc2bcdc_spark.sources.datasource import write_bucket_task

        plan = self._bucket_plan(meta, gen, delta)
        shuffled = rows.select(*plan["arrow_schema"].names, "_bucket").repartition("_bucket")
        if not plan["cluster"]["cols"]:
            shuffled = shuffled.sortWithinPartitions("_bucket", *self.key_cols)
        return shuffled.groupBy("_bucket").applyInArrow(
            write_bucket_task(plan), "bucket int, rows long, bytes long"
        )

    #: arrow types whose parquet footer stats we trust for bounds — the
    #: arrow mirror of ``_STATS_TYPES`` (date/timestamp/decimal stay out of
    #: scope, exactly like the Spark-side set)
    @staticmethod
    def _arrow_stats_ok(t) -> bool:
        import pyarrow as pa

        return (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_boolean(t)
            or pa.types.is_integer(t)
            or pa.types.is_floating(t)
        )

    def _collect_gen_stats(self, gen: str, written: set[int], meta: dict) -> dict:
        """Per-bucket min/max/nonnull for ``meta``'s ``stats_cols`` over
        the ``written`` buckets of a FRESHLY WRITTEN generation, read from
        the files' parquet FOOTERS (row-group statistics + null counts):
        O(files) driver-side metadata reads, ZERO data scanned and ZERO
        Spark jobs — the manifests-from-file-metadata pattern Iceberg uses
        (guide §6; formerly one aggregate job over the written bytes per
        commit).

        Conservative by construction: a column whose stats any row group
        omits leaves that bucket's entry, and a missing entry can never
        exclude a bucket on the read side. The bucket writer omits them
        where Arrow's would be unsound (``datasource._unsound_stats``: a
        NaN-bearing float column, whose min/max leave NaN out, and a
        string or binary value over 4096 bytes). A column that is
        entirely NULL in a bucket yields the same ``{min: None, max:
        None, nonnull: 0}`` entry the old aggregate produced.

        The manifest is the only authority once the table exists, with no
        constructor fallback: ``_usable_bounds_preds`` prunes from the
        persisted set alone, so a fallback would collect (and pay for)
        stats the read side never uses. Enable stats on a table that has
        none via ``set_stats_cols``."""
        scols = meta.get("stats_cols", [])
        if not scols:
            return {}
        import pyarrow.parquet as pq

        stats: dict = {}
        for b in sorted(written):
            bdir = self._bucket_dir(b, gen)
            # col -> [min, max, nonnull]; None value = stats unusable
            acc: dict[str, list | None] = {}
            for fname in self.fs.list_files(bdir, ".parquet"):
                md = pq.read_metadata(os.path.join(bdir, fname))
                arrow_schema = md.schema.to_arrow_schema()
                names = set(arrow_schema.names)
                present = [
                    c
                    for c in scols
                    if c in names
                    and self._arrow_stats_ok(arrow_schema.field(c).type)
                ]
                if not present:
                    continue
                # map column name -> index once per file
                idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
                for c in present:
                    if acc.get(c, []) is None or c not in idx:
                        continue
                    for rg in range(md.num_row_groups):
                        col = md.row_group(rg).column(idx[c])
                        st = col.statistics
                        nrows = md.row_group(rg).num_rows
                        if st is None or st.null_count is None:
                            acc[c] = None  # cannot even count non-nulls
                            break
                        nonnull = nrows - st.null_count
                        cur = acc.setdefault(c, [None, None, 0])
                        cur[2] += nonnull
                        if nonnull == 0:
                            continue  # all-NULL group: no bounds to merge
                        if not st.has_min_max:
                            acc[c] = None  # values present but unbounded
                            break
                        mn, mx = st.min, st.max
                        cur[0] = mn if cur[0] is None else min(cur[0], mn)
                        cur[1] = mx if cur[1] is None else max(cur[1], mx)
            entry = {
                c: {"min": v[0], "max": v[1], "nonnull": int(v[2])}
                for c, v in acc.items()
                if v is not None
            }
            if entry:
                stats[str(b)] = entry
        return stats

    def _commit_meta_flip(self, field: str, value, default=None) -> None:
        """Shared metadata-flip commit (``write_mode`` / ``stats_cols``):
        a no-op when the field already holds ``value``, else a REAL commit
        through ``_commit`` that sets the one field — a commit interleaved
        since this read aborts the flip with ``ConcurrentWriteError``
        instead of being clobbered by it."""
        self._check_writable()
        meta = self._meta()
        if meta.get(field, default) == value:
            return
        self._commit(
            int(meta.get("commit_seq", 0)), lambda m, _seq: m.update({field: value})
        )

    def set_stats_cols(self, cols: Sequence[str]) -> None:
        """Flip the persisted stats column set — a real commit, same
        contract as ``set_write_mode``. Takes effect for generations
        written AFTER the flip; existing generations carry whatever bounds
        they were written with (a gen with no entry for a column is simply
        never pruned by it), so enabling stats on a live table is safe and
        instant, and bounds backfill naturally as buckets churn (or all at
        once via ``compact()``/``rebucket``)."""
        self._commit_meta_flip("stats_cols", list(cols or ()), default=[])

    @staticmethod
    def _validated_strategy(strategy: str) -> str:
        if strategy not in ("lexicographic", "zorder"):
            raise ValueError(
                f"cluster_strategy must be 'lexicographic' or 'zorder', "
                f"got {strategy!r}"
            )
        return strategy

    def _sweep_unreferenced_generations(
        self, expired_now: Sequence[str] = ()
    ) -> None:
        """GC generation dirs that are neither referenced by any bucket nor
        held by the retention window. Runs AFTER the manifest swap, so a
        crash here leaves garbage, never corruption.

        Two classes, treated differently:

        * ``expired_now`` — generations the committing writer just expired
          FROM THE RETIRED SET: these are provably old table state (they
          were referenced by an earlier manifest), so they are deleted
          immediately — retention stays a deterministic commit-count
          contract (``read_version`` expiry does not drift with the
          clock).
        * every other unreferenced dir — possibly a CONCURRENT writer's
          in-flight staging: deleted only after the activity grace period
          (see ``staging_grace_s``); crashed orphans age into eligibility.
        """
        meta = self._meta()
        keep = self._referenced_gens(meta) | set(meta.get("retired", {}))
        expired_set = set(expired_now)
        for d in self.fs.list_subdirs(self.data_path):
            if d in keep:
                continue
            full = os.path.join(self.data_path, d)
            if d not in expired_set and self.fs.dir_age_s(full) < self.staging_grace_s:
                continue
            self.fs.remove_dir(full)

    @staticmethod
    def _referenced_gens(meta: dict) -> set[str]:
        """Every generation dir any live manifest entry points at: base
        bucket mappings plus outstanding MOR delta lists."""
        refs = set(meta.get("buckets", {}).values())
        for entries in meta.get("deltas", {}).values():
            refs |= {e["gen"] for e in entries}
        return refs

    @staticmethod
    def _validated_mode(mode: str) -> str:
        if mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {mode!r}")
        return mode

    def _write_mode_resolved(self, meta: dict | None = None) -> str:
        """The table's AUTHORITATIVE write mode: persisted once the table
        exists (constructor arg only seeds init), like ``_n_buckets``."""
        if meta is None:
            meta = self._meta() if self.exists() else {}
        return meta.get("write_mode", self.write_mode)

    def set_write_mode(self, mode: str) -> None:
        """Flip the persisted write mode — a REAL commit (seq bump +
        frozen history manifest), not a bare meta mutation: a concurrent
        upsert that read the pre-flip manifest now fails its optimistic
        ``commit_seq`` check instead of silently reverting the flip, and
        the flip itself re-reads meta at the last moment so it cannot
        overwrite a commit that landed while it deliberated. The commit
        is data-empty: ``read_changes`` across it yields no rows.
        Existing deltas stay readable either way: a ``cow`` upsert on a
        bucket with outstanding deltas folds them in and clears the list."""
        self._commit_meta_flip(
            "write_mode", self._validated_mode(mode), default="cow"
        )

    def _meta(self) -> dict:
        return self.fs.read_json(self.meta_path)

    def _write_meta(self, meta: dict) -> None:
        self.fs.write_json_atomic(self.meta_path, meta)

    def resolved_compare_cols(self) -> list[str]:
        """The table's authoritative compare set (persisted at init,
        extended by schema evolution). Callers — including CDCPipeline —
        should pass compare_cols=None to upsert() and let it resolve here,
        so change digests always cover the same columns as the table."""
        return list(self._meta().get("compare_cols", self.compare_cols))

    def data_schema(self) -> T.StructType:
        return T.StructType.fromJson(self._meta()["schema"])

    def evolve(self, incoming: T.StructType, meta: dict | None = None) -> bool:
        """Widen the table schema to accept ``incoming`` payload columns:
        new columns append (existing files backfill NULL on read — the
        explicit-schema read makes this free, exactly like Iceberg
        ADD COLUMN); widened types update; narrowing raises, and so does
        a type the bucket writer cannot map to Arrow (``TypeError``, as
        at ``init``). Metadata-only — no data files are rewritten.
        Returns True if the schema changed.

        ``meta`` is the caller's manifest read (else it is read here);
        an evolution updates it in place to the manifest it writes."""
        from bcdc2bcdc_spark.evolution import unioned_schema
        from bcdc2bcdc_spark.sources.datasource import _arrow_schema

        if meta is None:
            meta = self._meta()
        current = T.StructType.fromJson(meta["schema"])
        evolved = unioned_schema(current, incoming)
        if evolved.jsonValue() == current.jsonValue():
            return False
        self._check_writable()
        _arrow_schema(evolved)
        base_seq = int(meta.get("commit_seq", 0))
        meta["schema"] = evolved.jsonValue()
        # Evolved payload columns JOIN the compare set (they are user data,
        # like the reference's user_populated fields): an UPDATE that changes
        # only an evolved column must not be suppressed as a no-op. Keys,
        # the version column and event-control columns stay excluded.
        # digest_cols is NOT advanced — stored digests don't cover the new
        # columns, so upserts recompute base digests until redigest() runs.
        non_compare = {*self.key_cols, "commit", *self._CONTROL_COLS}
        have = set(meta.get("compare_cols", []))
        new_names = {f.name for f in evolved.fields} - {f.name for f in current.fields}
        for f in evolved.fields:
            if f.name in new_names and f.name not in non_compare and f.name not in have:
                meta.setdefault("compare_cols", list(self.compare_cols)).append(f.name)
        # evolve() rewrites the WHOLE manifest (schema + compare_cols ride
        # along with the buckets map it read) — re-check commit_seq so a
        # data commit that landed since the read is not rolled back. Same
        # check-then-write window as every commit here; true mutual
        # exclusion needs the external single-writer discipline the class
        # docstring mandates.
        if int(self._meta().get("commit_seq", 0)) != base_seq:
            raise ConcurrentWriteError(
                "a commit landed during schema evolution — re-run evolve() "
                "against the new table state"
            )
        self._write_meta(meta)
        return True

    def _bucket_dir(self, bucket: int, gen: str) -> str:
        return os.path.join(self.data_path, gen, f"_bucket={bucket}")

    def _read_raw(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Manifest-resolved read: exactly the referenced generation dirs
        of the requested buckets (all buckets when None). Pruning by
        construction — no partition discovery, no schema inference, and a
        fully-deleted table (empty map) reads as empty. ``_bucket`` is
        recomputed from the keys (deterministic), never parsed from paths."""
        meta = self._meta()
        return self._read_raw_from(meta, buckets).withColumn(
            "_bucket", self._bucket_of(meta)
        )

    def _delta_index(
        self, meta: dict, buckets: Sequence[int] | None
    ) -> list[tuple[str, int, list[str]]]:
        """Outstanding deltas resolved to concrete dirs: one entry per
        delta generation — ``(gen, seq, [bucket dirs])`` — restricted to
        the requested buckets, ordered by commit seq."""
        want = None if buckets is None else {str(b) for b in buckets}
        by_gen: dict[str, tuple[int, list[str]]] = {}
        for b, entries in meta.get("deltas", {}).items():
            if want is not None and b not in want:
                continue
            for e in entries:
                seq, dirs = by_gen.setdefault(e["gen"], (int(e["seq"]), []))
                dirs.append(self._bucket_dir(int(b), e["gen"]))
        return sorted(
            [(g, seq, dirs) for g, (seq, dirs) in by_gen.items()],
            key=lambda t: t[1],
        )

    def _merge_versions(self, union_df: DataFrame, schema: T.StructType) -> DataFrame:
        """Fold base + delta versions per key into the final row — MERGE
        semantics resolved AT READ TIME. Per key: versions sorted by commit
        seq, then left-folded with exactly apply_changes' branch rules
        (DELETE → tombstone, digest-equal upsert → no-op that KEEPS the
        prior row incl. its ``commit``, else take the newer version).

        Physical plan: ONE hash aggregate (``groupBy(key).agg(collect_list)``
        with map-side partial combine) + a Catalyst ``aggregate`` lambda
        over the per-key array — no window, no single-partition step, no
        Python. Rows per key = 1 base + #outstanding delta generations the
        key appears in, bounded by the compaction policy."""
        key_cols = list(self.key_cols)
        state_fields = [f for f in schema.fields if f.name not in key_cols]
        state_names = [f.name for f in state_fields] + ["_digest"]
        state_type = T.StructType(
            list(state_fields) + [T.StructField("_digest", T.StringType(), True)]
        )
        ver = F.struct(
            F.col("_seq").alias("_seq"),
            F.col("op").alias("op"),
            *[F.col(c).alias(c) for c in state_names],
        )
        def _step(acc, v):
            taken = F.struct(*[v[c].alias(c) for c in state_names])
            return (
                F.when(v["op"] == OP_DELETE, F.lit(None).cast(state_type))
                .when(acc.isNull(), taken)
                .when(acc["_digest"].eqNullSafe(v["_digest"]), acc)
                .otherwise(taken)
            )

        folded = (
            union_df.groupBy(*key_cols)
            .agg(F.array_sort(F.collect_list(ver)).alias("_vs"))
            .select(
                *key_cols,
                F.aggregate("_vs", F.lit(None).cast(state_type), _step).alias("_st"),
            )
            .filter(F.col("_st").isNotNull())
            .select(
                *key_cols,
                *[F.col(f"_st.{c}").alias(c) for c in state_names],
            )
        )
        return folded

    def _read_merged_raw(
        self,
        buckets: Sequence[int] | None = None,
        meta: dict | None = None,
    ) -> DataFrame:
        """Manifest-resolved read with outstanding MOR deltas FOLDED IN —
        same output shape as ``_read_raw_from`` (payload + ``_digest``), so
        every maintenance rewrite (``compact``, ``compact_deltas``,
        ``redigest``, ``rebucket``) stages the merged truth; a CoW upsert's
        merge tasks fold the deltas themselves. Zero overhead when the
        requested buckets have no deltas (plain base scan). Callers that
        stage the result as a generation add ``_bucket`` themselves
        (``_bucket_of``); readers never pay for it."""
        if meta is None:
            meta = self._meta()
        schema = T.StructType.fromJson(meta["schema"])
        deltas = self._delta_index(meta, buckets)
        base = self._read_raw_from(meta, buckets)
        if not deltas:
            return base
        parts = [
            base.withColumn("op", F.lit(None).cast("string"))
            .withColumn("_seq", F.lit(-1).cast("long"))
        ]
        dschema = _file_schema(schema, delta=True)
        for _gen, seq, dirs in deltas:
            parts.append(
                self.spark.read.schema(dschema)
                .parquet(*dirs)
                .withColumn("_seq", F.lit(seq).cast("long"))
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        redo = _redigest_cols(meta, self.compare_cols)
        if redo is not None:
            # stored digests predate a compare-set change (schema
            # evolution): recompute so the no-op fold compares digests
            # over ONE column set — same rule as the CoW upsert path
            u = with_row_digest(u.drop("_digest"), redo, "_digest", impl="jvm")
        return self._merge_versions(u, schema)

    def _read_raw_from(
        self, meta: dict, buckets: Sequence[int] | None = None
    ) -> DataFrame:
        """``_read_raw`` against an EXPLICIT manifest (current or a frozen
        history manifest — time travel shares the code path), without the
        ``_bucket`` column: payload + ``_digest``."""
        schema = _file_schema(T.StructType.fromJson(meta["schema"]))
        bmap = meta.get("buckets", {})
        items = (
            bmap.items()
            if buckets is None
            else [(str(b), bmap[str(b)]) for b in buckets if str(b) in bmap]
        )
        dirs = [self._bucket_dir(int(b), gen) for b, gen in items]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)

    def read(self) -> DataFrame:
        return self._read_merged_raw().drop("_digest")

    def lookup(self, keys: DataFrame, buckets: Sequence[int] | None = None) -> DataFrame:
        """Point lookup (S5): the current rows for a (small) key set,
        reading ONLY the buckets those keys hash to. Two prunings: the
        manifest keeps k/n_buckets of the table's directories, and a
        broadcast ``left_semi`` join keeps only the requested keys. The
        join pushes no filter into the scan (the plan's ``PushedFilters``
        are the key columns' ``IsNotNull`` only), so every row group of
        the read buckets is scanned. ``keys`` must be a DataFrame of
        exactly the key columns. Duplicate keys return each row once,
        and a key with a NULL part matches nothing; the semi-join's
        build side is the raw key projection, so a caller holding a key
        frame with many duplicate rows dedups it first.

        Bucket discovery collects one bucket id per key row (the same
        number of rows the broadcast ships); for an inline key list
        Catalyst folds the hash at plan time and the collect runs no job.
        ``buckets`` may pass a precomputed (superset of the) bucket-id
        set — callers that already scan the key set (e.g. the join-view
        refresh's one bookkeeping job) then skip discovery."""
        meta = self._meta()
        if buckets is None:
            buckets = {r[0] for r in keys.select(self._bucket_of(meta)).collect()}
        kc = list(self.key_cols)
        base = self._read_merged_raw(buckets=sorted(set(buckets)), meta=meta)
        # key columns first, then the payload in table order
        rest = [c for c in base.columns if c not in kc and c != "_digest"]
        return base.join(F.broadcast(keys.select(*kc)), kc, "left_semi").select(
            *kc, *rest
        )

    #: hash pruning enumerates the cross product of per-bucket-column
    #: candidate value sets; past this many tuples the IN-list is no longer
    #: "a few directories" and the full-manifest scan with the residual
    #: filter pushed down is the better plan anyway.
    _MAX_HASH_PRUNE_TUPLES = 256

    def _hash_pruned_buckets(self, preds: Sequence[tuple], meta: dict) -> set[int] | None:
        """EXACT bucket pruning from equality/IN predicates over the bucket
        columns (the Iceberg ``bucket(N, col)`` partition-pruning analog):
        when a conjunction pins every bucket column to a finite candidate
        set, the only directories that can hold matching rows are the
        hashes of the candidate tuples. Hashing goes through the SAME
        ``_bucket_expr`` over a literal DataFrame (one driver-side job over
        O(candidates) rows), so Python never re-implements xxhash64.
        Returns None when the predicates don't pin all bucket columns."""
        bcols = self._bucket_cols_resolved(meta)
        cand: dict[str, set] = {}
        for col, op, val in preds:
            if col not in bcols:
                continue
            if op == "=":
                vs = {val}
            elif op == "in":
                vs = set(val)
            else:
                continue
            if None in vs:
                return None  # hashing NULL never matches an = / IN row anyway,
                # but a NULL candidate means the caller's intent is unclear —
                # fall back to no hash pruning rather than guess
            cand[col] = cand[col] & vs if col in cand else vs
        if set(cand) != set(bcols):
            return None
        import itertools

        tuples = list(itertools.product(*[sorted(cand[c], key=repr) for c in bcols]))
        if not tuples:
            return set()
        if len(tuples) > self._MAX_HASH_PRUNE_TUPLES:
            return None
        types = {f.name: f.dataType for f in T.StructType.fromJson(meta["schema"]).fields}
        schema = T.StructType([T.StructField(c, types[c], True) for c in bcols])
        try:
            probe = self.spark.createDataFrame(tuples, schema)
            return {
                int(r[0])
                for r in probe.select(_bucket_expr(bcols, self._n_buckets(meta))).collect()
            }
        except Exception:
            # a candidate value whose Python type can't verify against the
            # bucket column's declared type (e.g. int vs string) must NOT
            # crash planning — pruning is never load-bearing, so fall back
            # to the unpruned scan and let the residual Catalyst filter
            # (which casts) decide row membership
            return None

    def prune_buckets(
        self, preds: Sequence[tuple], meta: dict | None = None
    ) -> list[int] | None:
        """Candidate buckets for a predicate-DSL conjunction, from manifest
        metadata only (no data read, no Spark job except the O(candidates)
        literal hash when bucket columns are pinned). Two prunings compose:

        * exact hash pruning when equality/IN predicates pin every bucket
          column (``_hash_pruned_buckets``);
        * conservative min/max bounds pruning per stats column: a bucket is
          excluded only when EVERY generation contributing rows to it (base
          + all outstanding MOR deltas) has a bounds entry proving no row
          matches. Any missing entry keeps the bucket — after schema
          evolution or a ``set_stats_cols`` flip, unannotated generations
          simply stay readable.

        Returns None when nothing prunes (read everything); correctness
        never depends on the result because every caller re-applies the
        full predicate as a residual filter."""
        if meta is None:
            meta = self._meta()
        hashed = self._hash_pruned_buckets(preds, meta)
        usable = _usable_bounds_preds(meta, preds)
        if hashed is None and not usable:
            return None
        keep = []
        for b in _live_buckets(meta):
            if hashed is not None and b not in hashed:
                continue
            if not _bounds_exclude_bucket(meta, b, usable):
                keep.append(b)
        return keep

    def read_where(self, preds: Sequence[tuple]) -> DataFrame:
        """Predicate scan with driver-side pruning: resolve the predicate
        DSL (see ``_PRED_OPS``) against the manifest, read ONLY the
        surviving buckets' generation dirs, and re-apply the full predicate
        as a residual Catalyst filter (pushed into the surviving parquet
        scans — pruning is a fast path, never a correctness dependency).
        The 100 TB shape: ``[("repo", "=", "x")]`` on a table bucketed by
        ``("repo",)`` reads 1/n_buckets of the table's directories before
        Spark plans anything; the reference's equivalent is filtering a
        full in-memory dump (/root/reference/bcdc2bcdc/CKANData.py:1010-1050
        set-ops over complete package lists)."""
        meta = self._meta()
        pruned = self.prune_buckets(preds, meta)
        return (
            self._read_merged_raw(buckets=pruned, meta=meta)
            .drop("_digest")
            .filter(compile_predicates(preds))
        )

    def commit_seq(self) -> int:
        """The table's current commit sequence number (0 = just-initialized)."""
        return int(self._meta().get("commit_seq", 0))

    def versions(self) -> list[int]:
        """Commit sequence numbers with a frozen manifest (time travel)."""
        hist = self.fs.list_files(os.path.join(self.path, "_history"), ".json")
        return sorted(int(f[len("manifest-") : -len(".json")]) for f in hist)

    def read_version(self, seq: int) -> DataFrame:
        """Read the table AS OF commit ``seq`` (Iceberg time-travel analog)
        from its frozen manifest. Valid while the version's generations
        survive the retention window (``retain_generations`` commits);
        raises a clear error once they have been expired. Version diffing
        is then just ``snapshot_diff(read_version(a), read_version(b))``."""
        hist = self._hist_meta(seq)
        # a version captured mid-MOR folds ITS manifest's delta lists —
        # time travel and current reads share the merge path
        return self._read_merged_raw(meta=hist).drop("_digest")

    def _hist_meta(self, seq: int) -> dict:
        """Load + validate a frozen history manifest: it must exist and its
        generations must still survive the retention window."""
        path = os.path.join(self.path, "_history", f"manifest-{seq}.json")
        if not self.fs.exists(path):
            raise ValueError(f"no manifest for commit {seq}; have {self.versions()}")
        hist = self.fs.read_json(path)
        live = self.fs.list_subdirs(self.data_path)
        gone = sorted(self._referenced_gens(hist) - live)
        if gone:
            raise ValueError(
                f"version {seq} references expired generations {gone} "
                f"(older than retain_generations={self.retain_generations} commits)"
            )
        return hist

    def changed_buckets(self, from_seq: int, to_seq: int) -> list[int] | None:
        """Buckets whose manifest entry (base generation + delta list)
        differs between two frozen versions. Generations are immutable, so
        an IDENTICAL entry proves identical content — the feed reads only
        the returned buckets. ``None`` means the bucket scheme itself
        changed (rebucket) and no pruning is possible."""
        return self._changed_between(
            self._hist_meta(from_seq), self._hist_meta(to_seq)
        )

    def _changed_between(self, m_from: dict, m_to: dict) -> list[int] | None:
        """``changed_buckets`` over two already-loaded manifests."""
        if self._n_buckets(m_from) != self._n_buckets(m_to):
            return None
        return [int(b) for b in _changed_entries(m_from, m_to)]

    #: manifest fields that describe the DATA STATE of a version — what
    #: ``restore`` moves. Operational fields (write_mode, GC bookkeeping)
    #: stay current: rollback moves data, not table configuration.
    _DATA_STATE_FIELDS = (
        "buckets", "deltas", "n_buckets", "bucket_cols", "key_cols",
        "schema", "compare_cols", "digest_cols",
    )

    def restore(self, seq: int) -> int:
        """RESTORE the table to committed version ``seq`` (Delta Lake
        ``RESTORE TABLE`` / Iceberg rollback analog) as a NEW commit:
        the live manifest's data-state fields (bucket map, delta lists,
        bucket scheme, schema, compare/digest sets) are re-pointed at the
        target version's immutable generation dirs — a pure metadata
        operation; zero rows are read, copied, or rewritten, at any
        table size.

        History is never rewritten. Because the restore is itself a
        commit, ``read_changes(cur_seq, restored_seq)`` yields exactly
        the inverse of the rolled-back interval's net changes — what a
        feed consumer (replica, MV, index, SCD2) must apply to follow
        the rollback — and time travel to the undone versions keeps
        working while retention holds. Generations the undone commits
        had retired are resurrected by being referenced again.

        Valid while the target version's generations survive the
        retention window (same contract as ``read_version``); the
        no-op case (restoring to the current version) commits nothing.
        Same optimistic single-winner concurrency as ``upsert``."""
        self._check_writable()
        meta = self._meta()
        cur = int(meta.get("commit_seq", 0))
        if seq > cur:
            raise ValueError(
                f"cannot restore to {seq}: table is at commit {cur}"
            )
        if seq == cur:
            return cur
        old = self._hist_meta(seq)

        def repoint(m: dict, _seq: int) -> None:
            for k in self._DATA_STATE_FIELDS:
                if k in old:
                    m[k] = old[k]
                else:
                    m.pop(k, None)
            # re-referencing a retired generation resurrects it — it is
            # live table state again, not awaiting expiry
            retired = m.setdefault("retired", {})
            for g in self._referenced_gens(m):
                retired.pop(g, None)

        return self._commit(cur, repoint)

    def read_changes(
        self,
        from_seq: int,
        to_seq: int,
        include_pre: bool = False,
    ) -> DataFrame:
        """The CHANGE DATA FEED between two committed versions (Delta
        Lake ``table_changes`` / Iceberg changelog-scan analog): one row
        per key whose state differs, with ``op`` ∈ {ADD, UPDATE, DELETE},
        the post-image payload (NULL for DELETE — the shape of a DELETE
        change event, replayable straight into another table's upsert),
        and, with ``include_pre``, the pre-image as ``pre_<col>`` columns
        (NULL for ADD) — what incremental aggregate maintenance consumes.

        Scale path: ``changed_buckets`` prunes the diff to buckets whose
        manifest entries differ (immutable generations ⇒ identical entry =
        identical content), then ONE full-outer join per changed bucket
        set comparing PERSISTED digests — zero digest recompute when the
        two versions share a compare set. Cost is O(changed buckets), not
        O(table): the same read profile as the upserts that produced the
        interval.

        PRECONDITION: table rows are key-complete (no NULL business-key
        columns). The engine pipeline quarantines unmergeable null-key
        events before any table sees them (plans/pipeline.py); rows that
        bypass that via raw upserts never match themselves under SQL
        null-join semantics and would surface as spurious ADD+DELETE
        pairs here."""
        if from_seq >= to_seq:
            raise ValueError(f"need from_seq < to_seq, got {from_seq} >= {to_seq}")
        m_from, m_to = self._hist_meta(from_seq), self._hist_meta(to_seq)
        buckets = self._changed_between(m_from, m_to)
        schema_to = T.StructType.fromJson(m_to["schema"])
        key_cols = list(self.key_cols)
        payload = [f.name for f in schema_to.fields if f.name not in key_cols]
        empty_feed = T.StructType(
            list(schema_to.fields)
            + [T.StructField("op", T.StringType(), True)]
            + (
                [
                    T.StructField(f"pre_{c}", schema_to[c].dataType, True)
                    for c in payload
                ]
                if include_pre
                else []
            )
        )
        if buckets is not None and not buckets:
            return self.spark.createDataFrame([], empty_feed)
        old = self._read_merged_raw(buckets=buckets, meta=m_from)
        new = self._read_merged_raw(buckets=buckets, meta=m_to)
        redo = _redigest_cols_between(m_from, m_to, self.compare_cols)
        if redo is not None:
            # re-digest BOTH sides over the newer compare set so UPDATE
            # detection is exact (the old side NULL-backfills evolved
            # columns)
            from bcdc2bcdc_spark.evolution import reconcile_to_schema

            old = reconcile_to_schema(old.drop("_digest"), schema_to)
            old = with_row_digest(old, redo, "_digest", impl="jvm")
            new = with_row_digest(new.drop("_digest"), redo, "_digest", impl="jvm")
        o = old.select(
            *key_cols,
            *[F.col(c).alias(f"_pre_{c}") for c in payload],
            F.col("_digest").alias("_od"),
        )
        n = new.select(*key_cols, *payload, F.col("_digest").alias("_nd"))
        j = n.join(o, key_cols, "full_outer")
        op = (
            F.when(F.col("_od").isNull(), F.lit(OP_ADD))
            .when(F.col("_nd").isNull(), F.lit(OP_DELETE))
            .when(F.col("_nd") != F.col("_od"), F.lit(OP_UPDATE))
            .otherwise(F.lit(None).cast("string"))
        )
        out_cols = [
            *key_cols,
            *[
                F.when(F.col("op") != OP_DELETE, F.col(c)).alias(c)
                for c in payload
            ],
            "op",
        ]
        if include_pre:
            out_cols += [F.col(f"_pre_{c}").alias(f"pre_{c}") for c in payload]
        return (
            j.withColumn("op", op).filter(F.col("op").isNotNull()).select(*out_cols)
        )

    def _n_buckets(self, meta: dict | None = None) -> int:
        """The table's AUTHORITATIVE bucket count: the persisted one once
        the table exists (the constructor arg only seeds ``init()`` /
        ``rebucket()``), so a table object opened with a stale n_buckets
        can never mis-assign keys to buckets."""
        if meta is None:
            meta = self._meta() if self.exists() else {}
        return int(meta.get("n_buckets", self.n_buckets))

    def _bucket_cols_resolved(self, meta: dict | None = None) -> list[str]:
        """The AUTHORITATIVE bucket-hash column set: persisted at init
        (like ``n_buckets``), defaulting to key_cols for every table
        created before the field existed."""
        if meta is None:
            meta = self._meta() if self.exists() else {}
        return list(meta.get("bucket_cols", self.bucket_cols or self.key_cols))

    def bucket_expr(self) -> F.Column:
        """The table's bucket assignment expression — callers that already
        scan the change batch (lineage) can collect touched buckets in the
        same job and pass them to ``upsert(touched=...)``."""
        return self._bucket_of(self._meta() if self.exists() else {})

    def bucket_scheme(self, seq: int | None = None) -> tuple[int, tuple[str, ...]]:
        """``(n_buckets, bucket_cols)`` of the live table, or of committed
        version ``seq``. Two tables with equal schemes put every key in the
        same bucket id, so one's bucket ids are valid ids of the other."""
        meta = self._meta() if seq is None else self._hist_meta(seq)
        return self._n_buckets(meta), tuple(self._bucket_cols_resolved(meta))

    def _bucket_of(self, meta: dict) -> F.Column:
        """The bucket assignment expression under ``meta``'s scheme."""
        return _bucket_expr(self._bucket_cols_resolved(meta), self._n_buckets(meta))

    def upsert(
        self,
        changes: DataFrame,
        compare_cols: Sequence[str] | None = None,
        digest_impl: str = "jvm",
        touched: Sequence[int] | None = None,
    ) -> None:
        """MERGE the key-unique change set (payload + ``op``) into the table.

        Only buckets containing changed keys are read and rewritten; the
        rest of the table is untouched (their manifest entries carry over).

        ``compare_cols=None`` (the default — what CDCPipeline passes)
        resolves the compare set from the table's persisted metadata, so
        change digests always cover the same columns as the stored
        ``_digest``. An EXPLICIT compare set that differs from the persisted
        one is rejected: computing change digests over a different column
        set than the base digests silently breaks no-op suppression (a real
        update could compare equal). After schema evolution the compare set
        includes the evolved columns while stored digests do not
        (``digest_cols`` lags); upserts then recompute base digests for
        touched buckets until ``redigest()`` re-baselines the table.

        ``digest_impl`` is how the change set is digested for the content
        diff against the stored ``_digest`` (``with_row_digest``): the
        producer of the change set picks it — CDCPipeline passes its own,
        every other caller leaves the JVM default.

        An upsert is ``stage_upsert`` published at once: the same
        ``_stage`` writes the generation, and ``StagedUpsert.publish``
        commits it.

        Crash safety — ATOMIC commit: the merged buckets are staged into a
        fresh immutable generation directory, then the bucket→generation
        manifest is swapped with one atomic metadata write (Iceberg's
        snapshot-commit pattern on plain parquet). A crash anywhere before
        the swap leaves the previous table state fully intact (the staged
        generation is unreferenced garbage, swept after the next commit);
        after the swap the new state is complete. Emptied buckets leave
        the manifest — no delete-before-rename window exists. Replay is
        additionally idempotent (deterministic input ⇒ identical bucket
        contents), so a crashed epoch is safely re-applied from checkpoint.

        ``touched`` may pass a precomputed (superset of the) touched-bucket
        id set. An upsert runs no discovery job either way: one bucket
        task runs per bucket that holds a change, and only those buckets
        are committed, so a bucket ``touched`` names without a change
        keeps its files; ``touched`` is checked to cover them.

        Concurrency — OPTIMISTIC, single-winner: the commit head
        (``_commit``) re-reads the manifest and ABORTS with
        ``ConcurrentWriteError`` if ``commit_seq`` advanced since this
        upsert's base read (Iceberg's validate-and-retry model), so a
        racing writer can never merge against a stale manifest and
        silently drop the other's rows. The check-then-rename pair is not
        itself mutually excluded — of two commits inside that millisecond
        window the later rename wins and the other commit is lost — so
        writers that must never retry should serialize externally, as
        CDCPipeline does via the checkpoint writer lock. Each manifest
        write stages through its own file, so the race can lose a commit
        but never leaves a torn manifest.
        """
        self._stage(changes, compare_cols, digest_impl, touched).publish()

    def _stage(
        self,
        changes: DataFrame,
        compare_cols: Sequence[str] | None,
        digest_impl: str,
        touched: Sequence[int] | None,
    ) -> "StagedUpsert":
        """The one staging body of ``upsert`` and ``stage_upsert``: evolve
        the schema, validate the compare set and write the change set as a
        generation through ``_write_generation``, from one manifest read.
        Commits nothing; the returned handle's ``publish`` does.

        One bucket task runs per bucket that holds a change (one shuffle
        of the change set, no base shuffle, no discovery job): CoW folds
        the change group into the bucket (``_cow_merged_plan``), MOR
        writes it as the bucket's delta, ``op`` column and all
        (``_given_plan``): DELETE rows are tombstones, ADD/UPDATE rows
        upserts, resolved per key at read time. The staging's touched
        set is exactly the buckets that got a task; a caller's
        ``touched`` is only checked to cover them, never committed itself
        (a bucket it names with no change keeps its rows)."""
        self._check_writable()
        meta = self._meta()
        changes = self._evolve_and_reconcile(changes, meta)
        base_seq = int(meta.get("commit_seq", 0))
        persisted = list(meta.get("compare_cols", self.compare_cols))
        if compare_cols is not None and list(compare_cols) != persisted:
            raise ValueError(
                f"compare_cols {list(compare_cols)} differs from the table's "
                f"persisted compare set {persisted}; pass compare_cols=None "
                "to use the persisted set (mixing sets breaks no-op "
                "suppression against the stored _digest)"
            )
        bucket = self._bucket_of(meta)
        mode = self._write_mode_resolved(meta)
        empty = StagedUpsert(self, None, set(), [], base_seq, meta, mode)
        if touched is not None and not touched:
            return empty  # empty change set: no staging job, no orphan dir
        gen = self._new_gen()
        if mode == "cow":
            tasks = self._cow_merged_plan(
                changes, persisted, digest_impl, meta, touched, bucket, gen
            )
        else:
            tasks = self._given_plan(
                with_row_digest(changes, persisted, "_digest", impl=digest_impl)
                .withColumn("_bucket", bucket),
                meta,
                gen,
                delta=True,
            )
        out = self._write_generation(tasks, gen, meta)
        if not out:
            return empty  # no change row: no task ran, no dir was made
        extra = set(out) - set(touched if touched is not None else out)
        if extra:
            self._pending_gen_stats.pop(gen, None)
            raise ConcurrentWriteError(
                f"staged output holds buckets {sorted(extra)} outside the "
                f"declared touched set; the caller passed an incomplete "
                f"touched list. Staged generation {gen} left for the "
                "next sweep, manifest untouched"
            )
        written = {b for b, (rows, _) in out.items() if rows}
        return StagedUpsert(self, gen, written, sorted(out), base_seq, meta, mode)

    def _dml_matched(self, predicate) -> DataFrame:
        """Resolve a DML predicate — Column, SQL string, or the predicate
        DSL — to the matched-row scan. DSL predicates go through
        ``read_where`` and get its driver-side bucket pruning for free."""
        if isinstance(predicate, (list, tuple)):
            return self.read_where(predicate)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self.read().where(pred)

    def delete_where(self, predicate) -> int:
        """Predicate DELETE (Delta/Iceberg ``DELETE WHERE``), compiled to
        ordinary keyed DELETE change events and committed through
        ``upsert``. The reference can only delete by enumerated ids
        (``CKANUpdate.py`` delete branch, fed by the J1 anti-join); a
        predicate delete is the bulk form a lake user actually types
        (retention, GDPR erasure).

        One merged scan finds the victims — the predicate is pushed into
        the parquet scan, and column pruning means only the predicate's
        columns plus the keys are read — then the normal MERGE rewrites
        just the touched buckets (CoW) or appends tombstones (MOR).
        Because the deletion IS a change commit, every feed consumer
        (incremental MVs, secondary indexes, SCD2 history, replication)
        observes it with zero special cases. Returns the victim count;
        zero victims ⇒ no commit at all.

        ``predicate`` is a Column, a SQL string, or the predicate DSL
        (list of ``(col, op, value)`` triples) — the DSL form additionally
        bucket-prunes the victim scan (``read_where``): a repo-pinned
        GDPR erasure on a repo-bucketed table reads ONE bucket."""
        schema = self.data_schema()
        payload = [f for f in schema.fields if f.name not in self.key_cols]
        changes = (
            self._dml_matched(predicate)
            .select(
                *self.key_cols,
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
            )
            .withColumn("op", F.lit(OP_DELETE))
            .persist()  # one scan serves count + touched discovery + merge
        )
        try:
            # ONE job yields the victim count AND the touched buckets
            # (bounded by n_buckets), so the upsert skips its own
            # discovery job (guide §1.2: fewer serial passes)
            row = changes.agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set(self.bucket_expr()).alias("_b"),
            ).first()
            n = int(row["_n"])
            if n:
                self.upsert(changes, touched=sorted(int(b) for b in row["_b"]))
        finally:
            changes.unpersist()
        return n

    def update_where(self, predicate, assignments: dict) -> int:
        """Predicate UPDATE (Delta/Iceberg ``UPDATE ... SET``): rows
        matching ``predicate`` get each ``assignments`` column replaced by
        its expression (a Column or SQL string, evaluated against the
        current row), compiled to keyed UPDATE change events and committed
        through ``upsert`` — same one-scan, touched-buckets-only,
        feed-visible contract as ``delete_where``.

        Key columns cannot be assigned (rewriting identity is a
        delete+add, not an update). Rows whose assigned values come out
        identical (null-safe, per column) are filtered BEFORE the write,
        so the commit cost is O(effectively-changed rows) — and an
        assignment that changes nothing commits nothing. Returns the
        effectively-updated row count."""
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        schema = self.data_schema()
        names = {f.name for f in schema.fields}
        bad = sorted(set(assignments) & set(self.key_cols))
        if bad:
            raise ValueError(
                f"cannot assign key columns {bad} — delete_where + a new "
                "ADD is how identity changes"
            )
        missing = sorted(set(assignments) - names)
        if missing:
            raise ValueError(f"assignment targets {missing} not in table schema")
        types = {f.name: f.dataType for f in schema.fields}
        new = {
            c: (F.expr(e) if isinstance(e, str) else e).cast(types[c])
            for c, e in assignments.items()
        }
        matched = self._dml_matched(predicate)
        changed = None
        for c, expr in new.items():
            neq = ~expr.eqNullSafe(F.col(c))
            changed = neq if changed is None else (changed | neq)
        changes = (
            matched.where(changed)
            .select(
                *[
                    new[f.name].alias(f.name) if f.name in new else F.col(f.name)
                    for f in schema.fields
                ]
            )
            .withColumn("op", F.lit(OP_UPDATE))
            .persist()  # one scan serves count + touched discovery + merge
        )
        try:
            # fused count + touched-bucket discovery — see delete_where
            row = changes.agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set(self.bucket_expr()).alias("_b"),
            ).first()
            n = int(row["_n"])
            if n:
                self.upsert(changes, touched=sorted(int(b) for b in row["_b"]))
        finally:
            changes.unpersist()
        return n

    def _cow_merged_plan(
        self,
        changes: DataFrame,
        compare_cols: list[str],
        digest_impl: str,
        meta: dict,
        touched: Sequence[int] | None,
        bucket: F.Column,
        gen: str,
    ) -> DataFrame:
        """The CoW merge plan, lazy: the change set grouped by ``bucket``
        (``meta``'s bucket expression) into one ``applyInArrow`` task per
        bucket holding a change (``datasource.cow_merge_bucket``). Each
        task folds its change group into the bucket's base and
        outstanding MOR deltas (a CoW rewrite supersedes them; the commit
        clears their lists) and writes the bucket's file of generation
        ``gen``. Its output is one ``(bucket, rows, bytes)`` row per task.

        The shuffle is a ``repartition`` into one partition per
        ``_MERGE_BUCKETS_PER_TASK`` buckets to merge (``touched``, else
        every bucket), capped at the default parallelism: AQE would
        coalesce a small change set into one partition and run every
        bucket's merge in one task, though a merge task's work is the
        bucket it reads, not the changes it is sent.

        ``digest_impl`` digests the change set only: ``"jvm"`` adds a
        ``sha2`` column before the shuffle, ``"arrow"`` leaves it to the
        task's ``pd_row_digest``. Stored digests that predate a
        compare-set change (``digest_cols`` lags after schema evolution)
        are recomputed in the task over the compare set, until
        ``redigest()`` re-baselines."""
        from bcdc2bcdc_spark.sources.datasource import cow_merge_bucket
        import functools

        columns = [f["name"] for f in meta["schema"]["fields"]]
        plan = {
            **self._bucket_plan(meta, gen),
            "path": self.path,
            "buckets": meta.get("buckets", {}),
            "deltas": meta.get("deltas", {}),
            "columns": columns,
            "compare_cols": list(compare_cols),
            "redigest_cols": _redigest_cols(meta, compare_cols),
        }
        if digest_impl == "jvm":
            changes = with_row_digest(changes, list(compare_cols), "_digest", impl="jvm")
            columns = [*columns, "_digest"]
        elif digest_impl != "arrow":
            raise ValueError(f"unknown digest impl: {digest_impl!r} (want 'arrow' or 'jvm')")
        n_merge = len(touched) if touched is not None else self._n_buckets(meta)
        n_parts = min(
            -(-n_merge // _MERGE_BUCKETS_PER_TASK),
            self.spark.sparkContext.defaultParallelism,
        )
        return (
            changes.select(*columns, "op", bucket.alias("_bucket"))
            .repartition(n_parts, "_bucket")
            .groupBy("_bucket")
            .applyInArrow(
                functools.partial(cow_merge_bucket, plan),
                "bucket int, rows long, bytes long",
            )
        )

    def stage_upsert(
        self, changes: DataFrame, digest_impl: str = "jvm"
    ) -> "StagedUpsert":
        """WRITE–AUDIT–PUBLISH staging (the Iceberg WAP pattern on this
        backend): run the FULL merge (CoW) or delta-stage (MOR) write job
        now — the same ``_stage`` that ``upsert`` publishes at once — but
        commit nothing; return a handle whose ``read()``
        exposes the exact would-be table state for audits (row counts,
        quality rules, reconciliation against a source) and whose
        ``publish()`` performs only the atomic manifest swap. Audited
        data becomes visible to readers in one metadata operation; a
        failed audit ``abandon()``s the staging and the table keeps its
        current state — no tombstones, no rollback rewrite, because
        nothing was ever referenced.

        The reference has no audit gate: updates post straight to the
        destination API and a bad batch is live until the next run
        (``/root/reference/bcdc2bcdc/CKANUpdate.py`` update branches).
        Same optimistic-concurrency contract as ``upsert``: a commit
        landing between staging and publish makes ``publish()`` raise
        ``ConcurrentWriteError`` — the audit validated a superseded
        candidate and must re-run against a fresh staging. A staging
        whose process dies is ordinary never-referenced garbage, swept
        after ``staging_grace_s``."""
        return self._stage(changes, None, digest_impl, None)

    def _commit_generation(
        self,
        merged: DataFrame,
        touched: Sequence[int],
        meta: dict,
        expected_seq: int | None = None,
        meta_updates: dict | None = None,
        mode: str = "cow",
    ) -> None:
        """Stage → commit for the maintenance rewrites: write ``merged``
        (rows with ``_bucket``) as given as a generation laid out as
        ``meta`` says, then ``_apply_staged`` it as a CoW swap of the
        ``touched`` buckets (or, in ``full_replace`` mode, as the whole
        table) plus ``meta_updates``. A touched
        bucket with no staged output was emptied and simply leaves the
        map.

        ``meta`` is the caller's base read, and ``expected_seq`` its
        sequence unless given. If another writer commits meanwhile, this
        commit ABORTS (``ConcurrentWriteError``) leaving the staged
        generation unreferenced — the winner's table state is untouched."""
        if expected_seq is None:
            expected_seq = int(meta.get("commit_seq", 0))
        gen = self._new_gen()
        out = self._write_generation(self._given_plan(merged, meta, gen), gen, meta)
        self._apply_staged(
            gen,
            set(out),
            touched,
            expected_seq,
            mode=mode,
            meta_updates=meta_updates,
        )

    def _apply_staged(
        self,
        gen: str,
        written: set[int],
        touched: Sequence[int],
        expected_seq: int,
        mode: str = "cow",
        meta_updates: dict | None = None,
    ) -> None:
        """Commit an ALREADY STAGED generation (a published WAP staging,
        an upsert, a maintenance rewrite): one ``_commit`` whose mutation
        is ``_apply_generation`` in ``mode`` plus ``meta_updates``."""

        def stage_in(meta: dict, seq: int) -> None:
            _apply_generation(meta, gen, written, touched, mode, seq)
            meta.update(meta_updates or {})

        try:
            self._commit(expected_seq, stage_in)
        except ConcurrentWriteError:
            # raised before any manifest write: ``gen`` stays unreferenced,
            # so its bounds will never be committed
            self._pending_gen_stats.pop(gen, None)
            raise

    def _commit(self, expected_seq: int, mutate) -> int:
        """The one commit head: every manifest change goes through here.
        Reads the manifest and raises ``ConcurrentWriteError`` unless its
        ``commit_seq`` is still ``expected_seq`` (the caller's base read),
        so a commit that landed meanwhile is never overwritten. The check
        runs after all of the caller's Spark work, on the very dict that
        gets written: ``mutate(meta, seq)`` applies the caller's change to
        it, then ``_finalize_commit`` swaps it in as commit ``seq``.
        Returns ``seq``."""
        meta = self._meta()
        on_disk = int(meta.get("commit_seq", 0))
        if on_disk != expected_seq:
            raise ConcurrentWriteError(
                f"commit_seq advanced {expected_seq} → {on_disk} since this "
                "writer's base read; another writer committed first — re-run "
                "against the new table state (anything this writer staged is "
                "left for the next sweep)"
            )
        before_refs = self._referenced_gens(meta)
        mutate(meta, on_disk + 1)
        self._finalize_commit(meta, on_disk + 1, before_refs)
        return on_disk + 1

    def _finalize_commit(self, meta: dict, seq: int, before_refs: set[str]) -> None:
        """The commit tail of ``_commit``, after its sequence check:
        advance the sequence, RETIRE generations that lost their last
        reference — they are physically deleted only after
        ``retain_generations`` further commits (snapshot retention), so
        readers pinned to a recent manifest stay valid — atomically swap
        the manifest, freeze it into history, then GC. A partially
        superseded generation keeps its dead bucket dirs until it fully
        retires — bounded dead space, reclaimed by later commits or
        compact()."""
        meta["commit_seq"] = seq
        retired = meta.setdefault("retired", {})
        for g in before_refs - self._referenced_gens(meta):
            retired[g] = seq  # lost its last reference at this commit
        expired = [g for g, s in retired.items() if seq >= int(s) + self.retain_generations]
        for g in expired:
            retired.pop(g, None)
        # column-bounds bookkeeping rides the commit: bounds for generations
        # this handle wrote land in the manifest the moment their gen is
        # referenced (stats for a still-unpublished WAP staging stay pending);
        # bounds whose generation left both the live map and the retention
        # window leave with it, so the manifest stays O(live generations).
        refs = self._referenced_gens(meta)
        if self._pending_gen_stats or meta.get("stats"):
            stats = meta.setdefault("stats", {})
            for g in [g for g in self._pending_gen_stats if g in refs]:
                stats[g] = self._pending_gen_stats.pop(g)
            keep = refs | set(meta.get("retired", {}))
            for g in [g for g in stats if g not in keep]:
                del stats[g]
            if not stats:
                meta.pop("stats", None)
        self._write_meta(meta)  # ← ATOMIC COMMIT POINT
        # manifest history: one frozen manifest per commit (time travel /
        # version diff); readable while its generations survive retention
        self.fs.write_json_atomic(
            os.path.join(self.path, "_history", f"manifest-{seq}.json"), meta
        )
        # post-commit GC: expired snapshots (deterministic, commit-count
        # retention) + aged crashed-staging orphans; a crash in here
        # leaves unreferenced dirs for the next sweep
        self._sweep_unreferenced_generations(expired_now=expired)

    def table_stats(self) -> DataFrame:
        """Maintenance introspection, METADATA-ONLY (directory listings
        with sizes — never a data read; the 100 TB analog is an
        object-store LIST per referenced prefix, bounded by
        n_buckets × (1 + delta depth) listings): one row per bucket with
        its base generation's file count/bytes and its outstanding MOR
        delta depth/bytes. This is the input to every maintenance
        decision the table supports — ``compact_deltas`` thresholds read
        the ``n_deltas`` column, capacity planning reads the byte
        columns, and skew shows up as byte imbalance across buckets
        (the signal to ``rebucket``)."""
        meta = self._meta()
        bmap = meta.get("buckets", {})
        dmap = meta.get("deltas", {})
        rows = []
        for b in sorted({int(k) for k in bmap} | {int(k) for k in dmap}):
            base_gen = bmap.get(str(b))
            bf = bb = 0
            if base_gen:
                sizes = self.fs.file_sizes(
                    self._bucket_dir(b, base_gen), ".parquet"
                )
                bf, bb = len(sizes), sum(sizes.values())
            df_ = db = 0
            for e in dmap.get(str(b), []):
                sizes = self.fs.file_sizes(
                    self._bucket_dir(b, e["gen"]), ".parquet"
                )
                df_ += len(sizes)
                db += sum(sizes.values())
            rows.append(
                (b, base_gen, bf, bb, len(dmap.get(str(b), [])), df_, db)
            )
        return self.spark.createDataFrame(
            rows,
            "bucket int, base_gen string, base_files int, base_bytes long, "
            "n_deltas int, delta_files int, delta_bytes long",
        )

    def compact_deltas(self, max_deltas: int = 0) -> list[int]:
        """MOR maintenance: fold every bucket holding more than
        ``max_deltas`` outstanding delta generations back into a plain
        base generation (Iceberg's rewrite_data_files + remove-deletes
        action). Read-time-merge results are bit-identical before and
        after — this trades one O(bucket) rewrite for every future read's
        fold work. Returns the folded bucket ids.

        At 100 TB: schedule by delta depth (the read-amplification knob) —
        e.g. fold at 8 outstanding deltas, so reads never union more than
        8 delta files per bucket while hot buckets aren't rewritten on
        every epoch (the reason the table is MOR in the first place)."""
        self._check_writable()
        meta = self._meta()
        crowded = [
            int(b)
            for b, entries in meta.get("deltas", {}).items()
            if len(entries) > max_deltas
        ]
        if not crowded:
            return []
        crowded = sorted(crowded)
        self._rewrite_buckets(meta, crowded)
        return crowded

    def _rewrite_buckets(self, meta: dict, buckets: list[int]) -> None:
        """The maintenance rewrite of ``compact`` and ``compact_deltas``:
        each bucket's merged rows (outstanding MOR deltas fold in) become
        one fresh base generation. Guarded like any commit against
        ``meta``'s sequence: a concurrent upsert wins and this rewrite
        aborts, never the reverse."""
        self._commit_generation(
            self._read_merged_raw(buckets=buckets, meta=meta).withColumn(
                "_bucket", self._bucket_of(meta)
            ),
            buckets,
            meta,
        )

    #: event-control columns that never belong to the table schema
    _CONTROL_COLS = ("op", "event_seq", "epoch")

    def _evolve_and_reconcile(self, changes: DataFrame, meta: dict) -> DataFrame:
        """Schema evolution at the MERGE boundary: payload columns the
        table lacks widen the table (metadata-only, NULL-backfilled reads);
        payload columns the changes lack materialize as typed NULLs
        (old-producer events post the full replacement payload they know).
        Plan-side only — column expressions, no data rewrite. ``meta`` is
        the caller's manifest read; an evolution updates it in place."""
        from bcdc2bcdc_spark.evolution import reconcile_to_schema

        fields = changes.schema.fields
        incoming = T.StructType(
            [f for f in fields if f.name not in self._CONTROL_COLS]
        )
        self.evolve(incoming, meta)
        target = T.StructType.fromJson(meta["schema"])
        full = T.StructType(
            list(target.fields)
            + [f for f in fields if f.name in self._CONTROL_COLS]
        )
        if [(f.name, f.dataType) for f in fields] == [
            (f.name, f.dataType) for f in full.fields
        ]:
            return changes  # already the target shape: the projection is identity
        return reconcile_to_schema(changes, full)

    def redigest(self) -> None:
        """Maintenance: recompute the persisted ``_digest`` of EVERY bucket
        over the table's current compare set and advance ``digest_cols``.
        Run after schema evolution to restore the zero-digest-work fast
        path (until then upserts recompute base digests per touched
        bucket). The 100 TB analog is an Iceberg rewrite_data_files-style
        action — full table rewrite, schedule accordingly."""
        self._check_writable()
        meta = self._meta()
        compare = list(meta.get("compare_cols", self.compare_cols))
        if meta.get("digest_cols") == compare:
            return
        rewritten = with_row_digest(
            self._read_merged_raw(meta=meta).drop("_digest"),
            compare,
            "_digest",
            impl="jvm",
        ).withColumn("_bucket", self._bucket_of(meta))
        # buckets live in the base map OR delta-only (MOR bucket never
        # yet folded) — both get a fresh base generation here
        touched = sorted(
            {int(b) for b in meta.get("buckets", {})}
            | {int(b) for b in meta.get("deltas", {})}
        )
        # digest_cols advances IN the same atomic commit (no follow-up
        # read-modify-write), guarded by the optimistic-concurrency check —
        # a concurrent upsert's commit aborts this maintenance run instead
        # of being clobbered by it.
        self._commit_generation(
            rewritten, touched, meta, meta_updates={"digest_cols": compare}
        )

    def compact(self, max_files_per_bucket: int = 4) -> list[int]:
        """Small-file maintenance: rewrite every bucket whose partition dir
        holds more than ``max_files_per_bucket`` parquet files into a
        single coalesced file set. Epoch upserts append task-sized files;
        over many epochs a bucket accumulates them — at 100 TB this is the
        Iceberg ``rewrite_data_files`` action; here it is a per-bucket
        read→repartition(1 per bucket)→atomic generation commit. Content
        is unchanged (idempotent); returns the compacted bucket ids."""
        self._check_writable()
        meta = self._meta()
        bmap = meta.get("buckets", {})
        crowded = [
            int(b) for b in bmap if len(self._part_files(int(b))) > max_files_per_bucket
        ]
        if not crowded:
            return []
        self._rewrite_buckets(meta, crowded)
        return crowded

    def rebucket(self, new_n_buckets: int, expected_seq: int | None = None) -> None:
        """Maintenance: rewrite the WHOLE table into ``new_n_buckets`` hash
        buckets — the Iceberg partition-spec-evolution + rewrite_data_files
        analog for a table that outgrew (or over-provisioned) its bucket
        count. One shuffle + one write job over the full table; persisted
        ``_digest`` values carry over unchanged (bucketing is orthogonal to
        the compare payload). The swap is the same atomic manifest commit as
        any upsert: readers pinned to pre-rebucket manifests stay valid
        through the retention window, and a crash mid-rewrite leaves the old
        bucketing fully intact. After the commit, ``n_buckets`` is persisted
        so EVERY table object — whatever its constructor arg — resolves the
        new count via ``_n_buckets()``. At 100 TB: schedule like compaction;
        work is O(table), so grow in large steps (e.g. 4×), not one by one.
        """
        self._check_writable()
        meta = self._meta()
        new_n_buckets = int(new_n_buckets)
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be ≥ 1, got {new_n_buckets}")
        if new_n_buckets == self._n_buckets(meta):
            return
        rewritten = self._read_merged_raw(meta=meta).withColumn(
            "_bucket", _bucket_expr(self._bucket_cols_resolved(meta), new_n_buckets)
        )
        self._commit_generation(
            rewritten,
            [],
            meta,
            expected_seq=expected_seq,
            meta_updates={"n_buckets": new_n_buckets},
            mode="full_replace",
        )

    def _part_files(self, bucket: int) -> set[str]:
        gen = self._meta().get("buckets", {}).get(str(bucket))
        if gen is None:
            return set()
        return self.fs.list_files(self._bucket_dir(bucket, gen), ".parquet")


@dataclass
class StagedUpsert:
    """A staged-but-uncommitted upsert (see ``stage_upsert``): the data
    work is done, the atomic manifest swap is pending.

    Lifecycle: ``read()`` any number of times (the audit), then exactly
    one of ``publish()`` / ``abandon()``. ``gen is None`` marks a change
    set with no row — publish is then a recorded no-op.
    ``mode`` is the table's write mode at staging time."""

    table: HashBucketParquetTable
    gen: str | None
    written: set
    touched: list
    expected_seq: int
    base_meta: dict
    mode: str
    done: str | None = None  # "published" | "abandoned"

    def candidate_meta(self) -> dict:
        """The manifest AS IF this staging were committed — the commit's
        own ``_apply_generation`` run on a copy of the frozen base
        manifest, so the audit always sees one coherent snapshot even
        while other writers race."""
        import copy

        m = copy.deepcopy(self.base_meta)
        if self.gen is not None:
            _apply_generation(
                m, self.gen, self.written, self.touched, self.mode, self.expected_seq + 1
            )
        return m

    def read(self, buckets=None) -> DataFrame:
        """The WOULD-BE table state (whole table, or just ``buckets`` —
        pass ``touched`` to audit only what changed)."""
        self._check_open("read")
        return self.table._read_merged_raw(
            buckets=buckets, meta=self.candidate_meta()
        ).drop("_digest")

    def publish(self) -> None:
        """The atomic commit: metadata-only (the data job already ran at
        staging time). Raises ``ConcurrentWriteError`` if any commit
        landed since staging."""
        self._check_open("publish")
        t = self.table
        try:
            if self.gen is not None:
                t._apply_staged(
                    self.gen, self.written, self.touched, self.expected_seq, mode=self.mode
                )
                if not self.written:
                    # a CoW merge that emptied every touched bucket: the
                    # commit popped them, and the staging holds no file
                    t.fs.remove_dir(os.path.join(t.data_path, self.gen))
        except BaseException:
            # TERMINAL: the failure may have landed AFTER the atomic
            # manifest swap (e.g. an I/O error in the post-commit history
            # write), in which case the live manifest references this
            # generation — abandon() must never delete it now. An
            # unpublished leftover is swept by GC after the grace period.
            self.done = "failed"
            raise
        self.done = "published"

    def abandon(self) -> None:
        """Drop the staging: the table never saw it. Idempotent for
        open/abandoned stagings; refuses published AND failed ones (a
        failed publish may have committed — deleting its generation
        would destroy live data; GC handles the unreferenced case)."""
        if self.done == "published":
            raise RuntimeError("staging already published — cannot abandon")
        if self.done == "failed":
            raise RuntimeError(
                "publish failed mid-commit — the generation may be "
                "referenced by the live manifest; leave it to GC"
            )
        if self.gen is not None:
            self.table.fs.remove_dir(
                os.path.join(self.table.data_path, self.gen)
            )
            self.table._pending_gen_stats.pop(self.gen, None)
        self.done = "abandoned"

    def _check_open(self, action: str) -> None:
        if self.done:
            raise RuntimeError(f"cannot {action}: staging already {self.done}")


def iceberg_merge_sql(
    target: str,
    source_view: str,
    key_cols: Sequence[str] = KEY_COLS,
    payload_cols: Sequence[str] = ("commit", "lang", "content"),
) -> str:
    """The production MERGE INTO statement (Iceberg / ANSI SQL:2016).

    Branch-complete with the reference's fallback semantics baked in:
    ADD on an existing key updates; UPDATE/ADD on a missing key inserts;
    DELETE on a missing key is a no-op (no NOT-MATCHED-DELETE branch).
    No-op suppression for backend parity with apply_changes: a matched row
    whose canonical payload is null-safe-equal is NOT updated (keeps its
    commit), via ``<=>`` over the compare columns.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    compare = [c for c in COMPARE_COLS if c in payload_cols] or list(payload_cols)
    unchanged = " AND ".join(f"t.{c} <=> s.{c}" for c in compare)
    sets = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
    cols = ", ".join([*key_cols, *payload_cols])
    vals = ", ".join(f"s.{c}" for c in [*key_cols, *payload_cols])
    return (
        f"MERGE INTO {target} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s.op = '{OP_DELETE}' THEN DELETE "
        f"WHEN MATCHED AND NOT ({unchanged}) THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED AND s.op <> '{OP_DELETE}' THEN INSERT ({cols}) VALUES ({vals})"
    )


@dataclass
class IcebergLakeTable:
    """Iceberg-backed table; requires iceberg-spark-runtime on the session.

    DDL (production): ``CREATE TABLE ... PARTITIONED BY (bucket(N, repo))``
    so MERGE shuffles align with storage and AQE can prune by bucket.
    """

    spark: SparkSession
    table: str  # catalog.db.table
    key_cols: tuple[str, ...] = KEY_COLS
    protected: bool = False

    def read(self) -> DataFrame:
        return self.spark.read.table(self.table)

    def upsert(self, changes: DataFrame, **_: object) -> None:
        if self.protected:
            raise ProtectedTableError(f"table {self.table} is write-guarded")
        changes.createOrReplaceTempView("_cdc_changes")
        payload = [c for c in changes.columns if c not in (*self.key_cols, "op", "event_seq", "epoch")]
        self.spark.sql(
            iceberg_merge_sql(self.table, "_cdc_changes", self.key_cols, payload)
        )
