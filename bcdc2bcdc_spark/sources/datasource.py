"""``cdclake`` — the lake as a first-class Spark data source (PySpark 4
Python Data Source API).

* ``spark.read.format("cdclake").option("path", p).load()`` scans the
  CURRENT table state: one input partition per bucket, each folding its
  base + outstanding MOR deltas executor-side.
* ``spark.readStream.format("cdclake").option("path", p).load()`` tails
  the CHANGE DATA FEED: stream offsets ARE the table's commit sequence
  numbers, each micro-batch is the manifest-diff between two committed
  versions, and partitions are the CHANGED buckets only — the streaming
  form of ``HashBucketParquetTable.read_changes`` (sources/lake.py).
  Feeding it to ``foreachBatch(dst.upsert)`` is streaming lake→lake
  replication (the reference's source→dest sync as a continuous query).

Executor-side reads use pyarrow + pandas directly (a Python data source
runs its ``read()`` in Python workers — there is no SparkSession there),
re-implementing the same per-key version fold as the JVM path
(`lake._merge_versions`): versions sorted by commit seq, DELETE resets,
digest-equal upsert keeps the prior row (no-op suppression preserves
``commit``). ``tests/test_datasource.py`` pins the two implementations
together. Work per partition is O(bucket + its deltas); planning is
driver-side manifest JSON only.

A table's row layout is fixed at ``init``: every generation is sorted
by the key columns in Spark's ascending order (NULL first, a float NaN
above every number) exactly when the manifest declares no
``cluster_cols``, and that one fact picks the fold, for the snapshot
reader and the CoW merge task alike. Key-sorted tables fold through a
boundary-chunked k-way merge over the generation streams
(``_fold_bucket_streamed``), peak O(batch_rows × generations) regardless
of bucket size; clustered tables fold the whole bucket, the reader
behind ``_guard_bucket_bytes``, as does the change-feed diff path.
Rows are yielded as Arrow RecordBatches, one per folded chunk.

Offsets/retention: a stream that falls more than ``retain_generations``
commits behind loses the frozen manifests it needs — same contract as
``read_version``. Size retention to the longest expected stream outage.

The same executor-side code writes every generation of the lake: one
``applyInArrow`` task per bucket writes the bucket's one file with
pyarrow (``_write_bucket_file``). A copy-on-write upsert's task
(``cow_merge_bucket``) folds the bucket's change group in as its newest
generation; every other generation's task (``write_bucket_task``)
writes its rows as given.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import SparkSession, types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

#: Filter class → predicate-DSL op (sources/lake.py). Only these translate;
#: anything else stays Spark-side (pushFilters returns every filter as
#: residual anyway — pruning is a fast path, never load-bearing).
_FILTER_OPS = {
    EqualTo: "=",
    In: "in",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}

OP_DELETE = "DELETE"  # schema.py constant, inlined: executors import nothing heavy


# ---------------------------------------------------------------------------
# executor-side helpers (plain pyarrow/pandas — no Spark)
# ---------------------------------------------------------------------------


def _nullable_dtypes():
    """pyarrow→pandas nullable dtype map for ints/bools/floats: a NULL in
    any file must NOT float-promote the column (str(42.0) != the JVM
    digest's '42' — functions/digest.py pd_row_digest is dtype-aware and
    relies on this), and a float NULL must stay apart from a float NaN
    (the JVM digest renders NaN as 'NaN', and the CoW merge writes the
    column back)."""
    import pandas as pd
    import pyarrow as pa

    return {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
        pa.bool_(): pd.BooleanDtype(),
        pa.float32(): pd.Float32Dtype(),
        pa.float64(): pd.Float64Dtype(),
    }


def _backfill(df, columns: list[str]):
    """NULL-backfill missing columns and project to exactly ``columns`` —
    schema evolution reads old files under the new schema, like the JVM
    path."""
    for c in columns:
        if c not in df.columns:
            df[c] = None
    return df[columns]


def _read_dir(path: str, columns: list[str]):
    """All parquet files directly under ``path`` as one pandas frame with
    exactly ``columns``."""
    import pandas as pd
    import pyarrow.parquet as pq

    nullable = _nullable_dtypes()
    frames = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                tbl = pq.read_table(os.path.join(path, f))
                frames.append(tbl.to_pandas(types_mapper=nullable.get))
    if not frames:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in columns})
    return _backfill(pd.concat(frames, ignore_index=True), columns)


#: default per-task ceiling on one bucket's LIVE parquet bytes (base +
#: outstanding deltas, compressed) — applies only where a task folds its
#: whole bucket in pandas (the feed's diff path, clustered tables), whose
#: peak memory is O(bucket bytes × decompression ratio). 2 GiB fits the
#: default 4-8 GiB Python-worker budget; override per read with
#: .option("maxbucketbytes", n) — 0 disables the guard.
DEFAULT_MAX_BUCKET_BYTES = 2 * 1024**3


class BucketTooLargeError(RuntimeError):
    """A bucket's live bytes exceed the per-task materialization ceiling."""


def _dir_bytes(path: str | None) -> int:
    if not path or not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _guard_bucket_bytes(specs: list[dict], max_bytes: int) -> None:
    """Refuse — BEFORE allocating anything — to materialize a bucket whose
    live on-disk bytes exceed the ceiling, pointing at the actual fixes.
    Runs executor-side per task: O(files in this bucket) stat calls, no
    data read — a silent worker OOM mid-scan becomes a planned error."""
    if max_bytes <= 0:
        return
    total = sum(
        _dir_bytes(s.get("base")) + sum(_dir_bytes(d["dir"]) for d in s.get("deltas", []))
        for s in specs
    )
    if total > max_bytes:
        raise BucketTooLargeError(
            f"cdclake: bucket holds {total:,} live parquet bytes, over the "
            f"per-task materialization ceiling of {max_bytes:,} (the Python "
            "source folds a whole bucket in pandas). Fixes: rebucket() the "
            "table to more buckets, compact_deltas() to shed MOR overlap, "
            "use the JVM read path (HashBucketParquetTable.read), or raise "
            ".option('maxbucketbytes', n) / 0 to disable."
        )


def _load_versions(spec: dict, columns: list[str]):
    """One version's rows for one bucket: base dir at seq -1 plus delta
    dirs at their commit seqs, concatenated with a ``_seq`` column."""
    import pandas as pd

    parts = []
    if spec.get("base"):
        b = _read_dir(spec["base"], columns + ["_digest"])
        b["op"] = None
        b["_seq"] = -1
        parts.append(b)
    for d in spec.get("deltas", []):
        f = _read_dir(d["dir"], columns + ["_digest", "op"])
        f["_seq"] = int(d["seq"])
        parts.append(f)
    if not parts:
        return pd.DataFrame(
            {c: pd.Series(dtype="object") for c in columns + ["_digest", "op", "_seq"]}
        )
    return pd.concat(parts, ignore_index=True)


def _fold_bucket(spec: dict, key_cols: list[str], columns: list[str],
                 redigest_cols: list[str] | None = None):
    """The per-key version fold (pandas mirror of lake._merge_versions):
    sort by seq, DELETE resets, digest-equal upsert is a no-op that keeps
    the prior row. O(rows) single pass after one sort. ``redigest_cols``
    (``_redigest_cols``) recomputes ``_digest`` with the engine's
    bit-exact formula (functions/digest.py pd_row_digest)."""
    return _fold_frame(_load_versions(spec, columns), key_cols, redigest_cols)


def _key_parts(s):
    """One key column in Spark's ascending order, as ``(cls, vals)``:
    ``cls`` is 0 for NULL (first), 1 for a value, and 2 for a float NaN
    (above every number, equal to itself); ``vals`` holds the values,
    compared only where both sides' ``cls`` is 1."""
    import numpy as np

    cls = np.ones(len(s), dtype=np.int8)
    if s.dtype.kind == "f":  # a masked float keeps NaN apart from NULL
        cls[np.isnan(s.to_numpy(dtype="float64", na_value=np.nan))] = 2
    cls[s.isna().to_numpy()] = 0
    return cls, s.to_numpy(dtype=object)


def _row_key(parts, i: int) -> tuple:
    """Row ``i`` of ``_key_parts`` columns as a tuple that Python orders
    the same way: one ``(cls, value or None)`` pair per column."""
    return tuple((int(c[i]), v[i] if c[i] == 1 else None) for c, v in parts)


def _key_lt_eq(a, b, n: int):
    """Lexicographic ``(lt, eq)`` masks of ``n`` key rows ``a`` (a list
    of ``_key_parts``) against ``b``: as many rows, or one ``_row_key``."""
    import numpy as np

    lt, eq = np.zeros(n, dtype=bool), np.ones(n, dtype=bool)
    for (ca, va), (cb, vb) in zip(a, b):
        col_lt, col_eq = ca < cb, (ca == cb) & (ca != 1)
        both = (ca == 1) & (ca == cb)
        if both.any():
            x, y = va[both], vb[both] if isinstance(vb, np.ndarray) else vb
            col_lt[both], col_eq[both] = x < y, x == y
        lt |= eq & col_lt
        eq &= col_eq
    return lt, eq


def _key_codes(df, key_cols: list[str]) -> list:
    """Per key column, int codes in Spark's ascending order (NULL lowest,
    NaN highest, equal values equal): ``np.lexsort`` input."""
    import numpy as np
    import pandas as pd

    out = []
    for k in key_cols:
        cls, vals = _key_parts(df[k])
        live = cls == 1
        codes, uniq = pd.factorize(vals[live], sort=True)
        c = np.where(cls == 0, -1, len(uniq)).astype(np.int64)
        c[live] = codes
        out.append(c)
    return out


def _fold_frame(df, key_cols: list[str], redigest_cols: list[str] | None = None):
    """The vectorized fold core over one frame holding ALL versions of
    every key it contains (columns ``*payload, _digest, op, _seq``).
    Returns the surviving rows in key order (``_key_codes``)."""
    if df.empty:
        return df.drop(columns=["op", "_seq"], errors="ignore")
    if redigest_cols is not None:
        from bcdc2bcdc_spark.functions.digest import pd_row_digest

        df["_digest"] = pd_row_digest(df, redigest_cols)
    import numpy as np
    import pandas as pd

    codes = _key_codes(df, key_cols)
    order = np.lexsort([df["_seq"].to_numpy(), *codes[::-1]])
    df = df.iloc[order].reset_index(drop=True)
    same = np.ones(len(df) - 1, dtype=bool)
    for c in codes:
        c = c[order]
        same &= c[1:] == c[:-1]
    key_id = np.concatenate([[0], np.cumsum(~same)])
    # Vectorized fold (no per-row Python): walking versions in seq order,
    # the state's digest always equals the last non-delete row's digest
    # (a no-op keeps a state whose digest already matches), so the
    # survivor is exactly the FIRST row of the LAST run of consecutive
    # equal digests AFTER the key's last DELETE — and keeping the run's
    # first row is what preserves `commit` across no-op upserts.
    n = len(df)
    pos = np.arange(n)
    isdel = df["op"].to_numpy(dtype=object) == OP_DELETE
    last_del = (
        pd.Series(np.where(isdel, pos, -1))
        .groupby(key_id)
        .transform("max")
        .to_numpy()
    )
    in_suffix = ~isdel & (pos > last_del)  # contiguous tail: no DELETE after
    dig = df["_digest"].to_numpy(dtype=object)
    prev_ok = np.zeros(n, dtype=bool)
    prev_ok[1:] = in_suffix[1:] & in_suffix[:-1] & (key_id[1:] == key_id[:-1])
    continues = np.zeros(n, dtype=bool)
    continues[1:] = prev_ok[1:] & (dig[1:] == dig[:-1])
    starts = in_suffix & ~continues
    winners = pd.Series(np.where(starts, pos, -1)).groupby(key_id).max()
    out = df.iloc[winners[winners >= 0].to_numpy()]
    return out.drop(columns=["op", "_seq"]).reset_index(drop=True)


#: rows per pyarrow batch on the streamed fold path — peak task memory is
#: O(this × (1 + MOR depth)) decoded rows, independent of bucket size
STREAM_FOLD_BATCH_ROWS = 65536


class UnsortedGenerationError(RuntimeError):
    """A generation file of a key-sorted table is not in key order: a
    safety check against a foreign or corrupt file."""


class _SortedGenStream:
    """Sequential batched reader over ONE generation's bucket dir,
    exploiting the writer's layout guarantee (when no cluster_cols are
    declared, every bucket task writes its bucket as one file sorted by
    key_cols).
    Keys are UNIQUE per generation (each generation is one LWW-deduped
    batch), so a buffered prefix reaching key K holds ALL of this
    generation's rows with key ≤ K. ``source`` may instead be an
    in-memory key-sorted pandas frame (a CoW merge's change group).

    Keys compare in the writers' order, Spark's ascending order
    (``_key_parts``), so NULL and NaN key parts stream like any value.
    Monotonicity is verified as batches arrive; a violation raises
    ``UnsortedGenerationError`` rather than silently mis-folding."""

    def __init__(self, source, seq: int, key_cols: list[str],
                 columns: list[str], batch_rows: int) -> None:
        self.seq = seq
        self.key_cols = key_cols
        self.columns = columns  # payload + _digest (+ op when seq >= 0)
        self.batch_rows = batch_rows
        self.path = source if isinstance(source, str) else "<change set>"
        self.buf = None  # pandas frame, key-sorted
        self.exhausted = False
        self._last_seen: tuple | None = None
        self._iter = self._batches(source)

    def _batches(self, source):
        import pyarrow.parquet as pq

        if not isinstance(source, str):
            for i in range(0, len(source), self.batch_rows):
                yield source.iloc[i : i + self.batch_rows].reset_index(drop=True)
            return
        nullable = _nullable_dtypes()
        if os.path.isdir(source):
            for f in sorted(os.listdir(source)):
                if not f.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(source, f))
                have = [c for c in self.columns if c in pf.schema_arrow.names]
                for rb in pf.iter_batches(batch_size=self.batch_rows, columns=have):
                    import pyarrow as pa

                    yield pa.Table.from_batches([rb]).to_pandas(
                        types_mapper=nullable.get
                    )

    def pull(self) -> None:
        """Append the next batch to the buffer (marks exhausted at EOF)."""
        import pandas as pd

        nxt = next(self._iter, None)
        if nxt is None:
            self.exhausted = True
            return
        nxt = _backfill(nxt, self.columns)
        if len(nxt):
            parts = [_key_parts(nxt[k]) for k in self.key_cols]
            # adjacent rows non-decreasing (vectorized shift-compare)
            lt, eq = _key_lt_eq(
                [(c[:-1], v[:-1]) for c, v in parts],
                [(c[1:], v[1:]) for c, v in parts],
                len(nxt) - 1,
            )
            first = _row_key(parts, 0)
            bad_seam = self._last_seen is not None and first < self._last_seen
            if bad_seam or not (lt | eq).all():
                raise UnsortedGenerationError(
                    f"cdclake: generation at {self.path} is not key-sorted, "
                    "but its table declares no cluster_cols, so every "
                    "generation is written in key order: the file is foreign "
                    "to this table's writers or corrupt."
                )
            self._last_seen = _row_key(parts, -1)
        nxt["_seq"] = self.seq
        self.buf = nxt if self.buf is None else pd.concat(
            [self.buf, nxt], ignore_index=True
        )

    def buffered_max(self) -> tuple | None:
        """The ``_row_key`` of the buffer's last row: the last row pulled."""
        if self.buf is None or not len(self.buf):
            return None
        return self._last_seen

    def split_le(self, boundary: tuple):
        """Vectorized lexicographic split: rows with key ≤ ``boundary``
        (a ``_row_key``; None for every row) leave the buffer and are
        returned (column-wise compares — loops over key COLUMNS, never
        rows)."""
        if self.buf is None or not len(self.buf):
            return None
        if boundary is None:
            out, self.buf = self.buf, None
            return out
        parts = [_key_parts(self.buf[k]) for k in self.key_cols]
        lt, eq = _key_lt_eq(parts, boundary, len(self.buf))
        le = lt | eq
        if not le.any():
            return None
        out = self.buf[le]
        self.buf = self.buf[~le].reset_index(drop=True)
        return out


def _fold_bucket_streamed(spec: dict, key_cols: list[str], columns: list[str],
                          redigest_cols: list[str] | None = None,
                          batch_rows: int = STREAM_FOLD_BATCH_ROWS,
                          changes=None):
    """Bounded-memory version of ``_fold_bucket``: a boundary-chunked
    k-way merge over the bucket's (base + delta) generation streams, plus
    ``changes`` (the CoW merge's key-sorted change group) as the newest.

    Each round picks boundary B = min over non-exhausted streams of their
    buffered max key. Every live stream's buffer is a prefix reaching
    ≥ B and keys are unique per stream, so rows with key ≤ B are COMPLETE
    version sets across all generations — they split off, fold through
    the same vectorized core as the materialized path (`_fold_frame`,
    bit-exact by construction), and yield as one chunk. Peak memory is
    O(batch_rows × generations), independent of bucket size."""
    import pandas as pd

    sources = [(spec["base"], -1)] if spec.get("base") else []
    sources += [(d["dir"], int(d["seq"])) for d in spec.get("deltas", [])]
    if changes is not None:
        sources.append((changes, _CHANGES_SEQ))
    all_cols = columns + ["_digest", "op", "_seq"]
    streams = [  # a base file has no op column: it backfills NULL
        _SortedGenStream(src, seq, key_cols, all_cols[:-1], batch_rows)
        for src, seq in sources
    ]
    while True:
        for s in streams:
            while not s.exhausted and s.buffered_max() is None:
                s.pull()
        live = [s.buffered_max() for s in streams if not s.exhausted]
        boundary = min(live) if live else None  # None: the tails
        parts = [p for p in (s.split_le(boundary) for s in streams) if p is not None]
        if parts:
            out = _fold_frame(
                pd.concat(parts, ignore_index=True)[all_cols], key_cols, redigest_cols
            )
            if len(out):
                yield out
        if not live:
            return


#: fold position of a CoW merge's change group: newer than every
#: committed generation of its bucket
_CHANGES_SEQ = 1 << 62


def _arrow_column(s, t):
    """One pandas column as an Arrow array of type ``t``, NULL and NaN kept
    apart: masked (nullable) dtypes carry their own NULL mask, and an
    object column maps only ``None``/``pd.NA`` to NULL."""
    import pandas as pd
    import pyarrow as pa

    if isinstance(s.dtype, pd.api.extensions.ExtensionDtype):
        return pa.array(s.array, type=t)
    vals = s.to_numpy(dtype=object)
    if pa.types.is_floating(t):
        return pa.array(
            [None if v is pd.NA else v for v in vals], type=t, from_pandas=False
        )
    return pa.array(vals, type=t, from_pandas=True)


#: Arrow's parquet writer keeps a column chunk's min but drops its max
#: once a value is longer than this many bytes, and pyarrow then reads the
#: max back as "" (an unsound bound); parquet-mr keeps neither.
_MAX_STAT_VALUE_BYTES = 4096


def _unsound_stats(table, skip: set) -> set:
    """Columns of ``table`` (outside ``skip``) whose parquet statistics
    Arrow's writer would get wrong: a string or binary column holding a
    value over ``_MAX_STAT_VALUE_BYTES``, and a float column holding a
    NaN (Arrow leaves NaN out of min/max, so ``[1.0, NaN, 3.0]`` gets max
    3.0, and a filter ``d > 5`` pushed into the scan, or a manifest bound,
    would skip the row that Spark's ``NaN > 5`` keeps)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = set()
    for f in table.schema:
        if f.name in skip:
            continue
        col = table[f.name]
        if pa.types.is_string(f.type) or pa.types.is_binary(f.type):
            bad = (pc.max(pc.binary_length(col)).as_py() or 0) > _MAX_STAT_VALUE_BYTES
        elif pa.types.is_floating(f.type):
            bad = bool(pc.any(pc.is_nan(col)).as_py())
        else:
            continue
        if bad:
            out.add(f.name)
    return out


def _write_bucket_file(bucket_dir: str, frames, schema, group_rows: int) -> tuple[int, int]:
    """Write the ordered ``frames`` (pandas frames, or Arrow tables of
    ``schema``) as ONE parquet file ``bucket_dir/part-00000.parquet``, in
    row groups of ``group_rows`` rows (the last may be smaller), however
    the frames are cut: a clustered bucket arrives as one frame, and its
    row groups are what a pushed filter skips.
    The file is written under a hidden temp name and renamed into place,
    so a retried task replaces its own output and no reader ever sees a
    partial file. Writes nothing when the frames hold no row. Returns
    ``(rows, bytes)``.

    Columns whose statistics would be unsound (``_unsound_stats``) get
    none, in every row group: the first row group decides, and a later
    one that finds another such column rewrites the groups written so far
    into a fresh temp file without that column's statistics (frames are
    consumed once, so the task's input is never replayed)."""
    import uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(bucket_dir, "part-00000.parquet")
    no_stats: set = set()
    writer = tmp = None
    pending: list = []
    rows = buffered = 0

    def open_writer():
        nonlocal writer, tmp
        tmp = os.path.join(bucket_dir, f".part-00000.{uuid.uuid4().hex}.tmp")
        writer = pq.ParquetWriter(
            tmp, schema, write_statistics=[n for n in schema.names if n not in no_stats]
        )

    def flush(table):
        unsound = _unsound_stats(table, no_stats)
        no_stats.update(unsound)
        if writer is None:
            os.makedirs(bucket_dir, exist_ok=True)
            open_writer()
        elif unsound:
            old = tmp
            writer.close()
            open_writer()
            with pq.ParquetFile(old) as pf:
                for g in range(pf.num_row_groups):
                    writer.write_table(pf.read_row_group(g))
            os.remove(old)
        writer.write_table(table)

    try:
        for frame in frames:
            if not len(frame):
                continue
            if isinstance(frame, pd.DataFrame):
                frame = pa.Table.from_arrays(
                    [_arrow_column(frame[f.name], f.type) for f in schema], schema=schema
                )
            pending.append(frame)
            rows += len(frame)
            buffered += len(frame)
            while buffered >= group_rows:
                table = pa.concat_tables(pending)
                flush(table.slice(0, group_rows))
                pending = [table.slice(group_rows)]
                buffered -= group_rows
        if buffered:
            flush(pa.concat_tables(pending))
    except BaseException:
        if writer is not None:
            writer.close()
            os.remove(tmp)
        raise
    if writer is None:
        return 0, 0
    writer.close()
    os.replace(tmp, final)
    return rows, os.path.getsize(final)


def _task_result(bucket: int, rows: int, nbytes: int):
    """A bucket task's one output row ``(bucket, rows, bytes)``."""
    import pyarrow as pa

    return pa.table(
        {
            "bucket": pa.array([bucket], pa.int32()),
            "rows": pa.array([rows], pa.int64()),
            "bytes": pa.array([nbytes], pa.int64()),
        }
    )


def _cluster_sort(df, key_cols: list[str], cluster: dict):
    """Order one bucket's rows of a clustered table: cluster columns then
    the remaining keys, NULLs first; a Z-order table with ≥ 2 present
    cluster columns sorts by the bit-interleaved quantile cell
    (``lake._z_values_np``, split points from these rows) then the
    remaining keys. Both bucket tasks sort with it (``write_bucket_task``
    and ``cow_merge_bucket``)."""
    cols = cluster["cols"]
    present = [c for c in cols if c in df.columns]
    tiebreak = [k for k in key_cols if k not in cols]
    if cluster["strategy"] == "zorder" and len(present) >= 2:
        from bcdc2bcdc_spark.sources.lake import _z_values_np

        z = _z_values_np(df, present, cluster["types"])
        return (
            df.assign(__z=z)
            .sort_values(["__z", *tiebreak], kind="mergesort", na_position="first")
            .drop(columns="__z")
        )
    return df.sort_values([*present, *tiebreak], kind="mergesort", na_position="first")


def write_bucket_task(plan: dict):
    """The write-as-given bucket task (``groupBy("_bucket").applyInArrow``,
    iterator form): write one bucket's rows, as they arrive, as the
    bucket's one file of the generation ``plan["out"]``, and yield one
    row ``(bucket, rows, bytes)``. A key-sorted table's rows arrive
    sorted by key (the plan sorts them), so the task holds one Arrow
    batch and one row group at a time; a clustered table's task gathers
    the bucket and orders it with ``_cluster_sort``. ``plan`` carries
    the file schema, the key columns and the cluster layout (see
    ``HashBucketParquetTable._given_plan``)."""
    import pyarrow as pa

    def task(key, batches):
        bucket = int(key[0].as_py())
        schema = plan["arrow_schema"]
        frames = (
            pa.Table.from_batches([rb]).select(schema.names).cast(schema) for rb in batches
        )
        if plan["cluster"]["cols"]:
            whole = pa.concat_tables(list(frames)).to_pandas(types_mapper=_nullable_dtypes().get)
            frames = [_cluster_sort(whole, plan["key_cols"], plan["cluster"])]
        rows, nbytes = _write_bucket_file(
            os.path.join(plan["out"], f"_bucket={bucket}"), frames, schema, STREAM_FOLD_BATCH_ROWS
        )
        yield from _task_result(bucket, rows, nbytes).to_batches()

    # these hints select applyInArrow's iterator form
    task.__annotations__ = {
        "key": tuple,
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return task


def cow_merge_bucket(plan: dict, group):
    """The fold bucket task of a CoW upsert (``groupBy("_bucket").applyInArrow``):
    fold the bucket's change group into its base + outstanding MOR deltas
    as the newest generation, and write the result as the new
    generation's bucket file. ``group`` is the Arrow change group
    (payload, ``op``, ``_bucket``, and ``_digest`` when the JVM digested
    it; otherwise it is digested here with ``pd_row_digest``, the Arrow
    UDF's function). Merge semantics are ``_fold_frame``'s: DELETE drops
    the key (a DELETE of a missing key is a no-op), an upsert whose
    digest equals the stored one keeps the stored row and its ``commit``,
    else the change row wins. ``plan`` carries what the driver resolved
    from the manifest (see ``HashBucketParquetTable._cow_merged_plan``).

    Key-sorted tables (no ``cluster_cols``) stream through
    ``_fold_bucket_streamed`` (bounded memory); clustered tables fold the
    whole bucket and sort it with ``_cluster_sort``. The writer is
    ``write_bucket_task``'s. Returns one row ``(bucket, rows, bytes)``; 0
    rows means the merge emptied the bucket and wrote no file."""
    import numpy as np
    import pandas as pd

    bucket = int(group.column("_bucket")[0].as_py())
    key_cols, columns = plan["key_cols"], plan["columns"]
    changes = group.drop_columns(["_bucket"]).to_pandas(
        types_mapper=_nullable_dtypes().get
    )
    if "_digest" not in changes.columns:
        from bcdc2bcdc_spark.functions.digest import pd_row_digest

        changes["_digest"] = pd_row_digest(changes, plan["compare_cols"])
    changes = changes[columns + ["_digest", "op"]]
    changes = changes.iloc[np.lexsort(_key_codes(changes, key_cols)[::-1])].reset_index(drop=True)
    spec = _bucket_spec(plan, plan["path"], str(bucket))
    redigest = plan["redigest_cols"]
    if not plan["cluster"]["cols"]:
        folded = _fold_bucket_streamed(spec, key_cols, columns, redigest, changes=changes)
    else:
        versions = pd.concat(
            [_load_versions(spec, columns), changes.assign(_seq=_CHANGES_SEQ)],
            ignore_index=True,
        )
        merged = _fold_frame(versions, key_cols, redigest)
        folded = [_cluster_sort(merged, key_cols, plan["cluster"])]
    rows, nbytes = _write_bucket_file(
        os.path.join(plan["out"], f"_bucket={bucket}"),
        folded,
        plan["arrow_schema"],
        STREAM_FOLD_BATCH_ROWS,
    )
    return _task_result(bucket, rows, nbytes)


def _diff_bucket(old_spec: dict, new_spec: dict, key_cols: list[str],
                 columns: list[str], redigest_cols: list[str] | None = None,
                 include_pre: bool = False):
    """Feed rows for one bucket between two versions: outer-merge the two
    folded states on the key, classify by persisted digest (recomputed
    over ``redigest_cols`` when the versions' stored digests are not
    provably over one column set — same rule as lake.read_changes)."""
    import pandas as pd

    old = _fold_bucket(old_spec, key_cols, columns, redigest_cols)
    new = _fold_bucket(new_spec, key_cols, columns, redigest_cols)
    payload = [c for c in columns if c not in key_cols]
    old = old.rename(columns={c: f"_o_{c}" for c in [*payload, "_digest"]})
    new = new.rename(columns={"_digest": "_n_digest"})
    j = new.merge(old, on=key_cols, how="outer", indicator=True)
    import numpy as np

    m = j["_merge"].to_numpy(dtype=object)
    changed = j["_n_digest"].to_numpy(dtype=object) != j["_o__digest"].to_numpy(
        dtype=object
    )
    j["op"] = pd.Series(
        np.select(
            [m == "left_only", m == "right_only", changed],
            ["ADD", OP_DELETE, "UPDATE"],
            default=None,
        ),
        index=j.index,
        dtype="object",
    )
    j = j[j["op"].notna()]
    for c in payload:  # DELETE rows carry NULL payload (event shape)
        j.loc[j["op"] == OP_DELETE, c] = None
    if include_pre:
        for c in payload:
            j[f"pre_{c}"] = j[f"_o_{c}"]
            j.loc[j["op"] == "ADD", f"pre_{c}"] = None
        return j[[*key_cols, *payload, "op", *[f"pre_{c}" for c in payload]]]
    return j[[*key_cols, *payload, "op"]]


def _arrow_schema(spark_schema: T.StructType):
    """Explicit Arrow schema: an all-NULL column must still carry its
    declared type (from_pylist would infer pa.null and break the source
    contract)."""
    import pyarrow as pa

    mapping = {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.BooleanType(): pa.bool_(),
        T.BinaryType(): pa.binary(),
    }
    fields = []
    for f in spark_schema.fields:
        if f.dataType not in mapping:
            raise TypeError(
                f"cdclake: unsupported column type {f.dataType} for {f.name}"
            )
        fields.append(pa.field(f.name, mapping[f.dataType]))
    return pa.schema(fields)


def _to_record_batch(df, schema: T.StructType):
    """``df`` as one RecordBatch of ``schema``, built by the merge
    writer's converter (``_arrow_column``): a float NaN stays NaN."""
    import pyarrow as pa

    arrow = _arrow_schema(schema)
    return pa.RecordBatch.from_arrays(
        [_arrow_column(df[f.name], f.type) for f in arrow], schema=arrow
    )


# ---------------------------------------------------------------------------
# planning helpers (driver-side manifest JSON)
# ---------------------------------------------------------------------------


def _read_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _manifest(table_path: str, seq: int | None = None) -> dict:
    if seq is None:
        return _read_json(os.path.join(table_path, "_table.json"))
    p = os.path.join(table_path, "_history", f"manifest-{seq}.json")
    if not os.path.exists(p):
        raise ValueError(f"no frozen manifest for commit {seq} at {table_path}")
    return _read_json(p)


def _bucket_spec(meta: dict, table_path: str, bucket: str) -> dict:
    data = os.path.join(table_path, "data")
    base_gen = meta.get("buckets", {}).get(bucket)
    return {
        "base": os.path.join(data, base_gen, f"_bucket={bucket}") if base_gen else None,
        "deltas": [
            {"dir": os.path.join(data, e["gen"], f"_bucket={bucket}"), "seq": e["seq"]}
            for e in meta.get("deltas", {}).get(bucket, [])
        ],
    }


def _entry(meta: dict, bucket: str):
    """One bucket's manifest entry: its base generation and delta list."""
    return (
        meta.get("buckets", {}).get(bucket),
        tuple((e["gen"], int(e["seq"])) for e in meta.get("deltas", {}).get(bucket, [])),
    )


def _changed_entries(m_a: dict, m_b: dict) -> list[str]:
    """Bucket ids (ascending) whose ``_entry`` differs between two
    manifests of one bucket scheme. Generations are immutable, so an
    identical entry proves identical content."""
    all_b = set(m_a.get("buckets", {})) | set(m_b.get("buckets", {}))
    all_b |= set(m_a.get("deltas", {})) | set(m_b.get("deltas", {}))
    return sorted((b for b in all_b if _entry(m_a, b) != _entry(m_b, b)), key=int)


def _redigest_cols(meta: dict, default=()) -> list[str] | None:
    """Whether ``meta``'s stored digests are comparable: they cover its
    compare set (``default`` when it has none) unless ``digest_cols``
    lags it (after ``evolve()``, until ``redigest()``). Returns the
    compare set to recompute digests over, or None."""
    compare = list(meta.get("compare_cols", default))
    return None if meta.get("digest_cols", compare) == compare else compare


def _redigest_cols_between(m_a: dict, m_b: dict, default=()) -> list[str] | None:
    """The same across two versions: their stored digests compare only
    when both cover ONE column set. A lagging side alone breaks that (an
    upsert re-digests only the buckets it touches). Returns ``m_b``'s
    compare set to recompute both sides over, or None."""
    cmp_b = list(m_b.get("compare_cols", default))
    same = list(m_a.get("compare_cols", default)) == cmp_b
    lag = _redigest_cols(m_a, default) is not None or _redigest_cols(m_b, default) is not None
    return None if same and not lag else cmp_b


class _BucketPartition(InputPartition):
    """One bucket's read spec (``_bucket_spec``, or the feed's old/new pair)."""


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class LakeChangeFeedDataSource(DataSource):
    """``format("cdclake")`` — batch: current merged snapshot (+``op``
    NULL, ``_version`` = head); stream: the change data feed (``op`` set,
    ``_version`` = the micro-batch's end commit seq)."""

    @classmethod
    def name(cls) -> str:
        return "cdclake"

    def _table_path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("cdclake requires .option('path', <table dir>)")
        return p

    def _frozen_meta(self) -> dict:
        """The manifest read ONCE per scan and shared by ``schema()`` and
        ``reader()`` — a commit (e.g. evolve) landing between two
        independent reads would give the reader a column list that
        disagrees with the declared schema."""
        if not hasattr(self, "_meta_cache"):
            self._meta_cache = _manifest(self._table_path())
        return self._meta_cache

    def schema(self) -> T.StructType:
        meta = self._frozen_meta()
        payload = T.StructType.fromJson(meta["schema"])
        key_cols = set(meta.get("key_cols", ["repo", "path"]))
        fields = (
            # EVERY field nullable regardless of the table schema: DELETE
            # feed rows carry NULL payload by contract, and a non-null
            # table field would make the unsafe projection NPE on them
            [T.StructField(f.name, f.dataType, True) for f in payload.fields]
            + [
                T.StructField("op", T.StringType(), True),
                T.StructField("_version", T.LongType(), True),
            ]
        )
        if self.options.get("includepre", "false").lower() == "true":
            # Delta-CDF-style pre-images: what incremental aggregate
            # maintenance consumes (NULL on ADD rows, and on every
            # batch-snapshot row)
            fields += [
                T.StructField(f"pre_{f.name}", f.dataType, True)
                for f in payload.fields
                if f.name not in key_cols
            ]
        return T.StructType(fields)

    def _max_bucket_bytes(self) -> int:
        return int(
            self.options.get("maxbucketbytes", str(DEFAULT_MAX_BUCKET_BYTES))
        )

    def reader(self, schema: T.StructType) -> "LakeSnapshotReader":
        return LakeSnapshotReader(
            self._table_path(),
            schema,
            self._frozen_meta(),
            max_bucket_bytes=self._max_bucket_bytes(),
        )

    def streamReader(self, schema: T.StructType) -> "LakeFeedStreamReader":
        return LakeFeedStreamReader(
            self._table_path(),
            schema,
            start_seq=int(self.options.get("startseq", "1")),
            max_versions_per_batch=int(self.options.get("maxversionsperbatch", "0")),
            include_pre=self.options.get("includepre", "false").lower() == "true",
            max_bucket_bytes=self._max_bucket_bytes(),
        )


class LakeSnapshotReader(DataSourceReader):
    def __init__(
        self,
        path: str,
        schema: T.StructType,
        meta: dict | None = None,
        max_bucket_bytes: int = DEFAULT_MAX_BUCKET_BYTES,
    ) -> None:
        self.path = path
        self.out_schema = schema
        self.max_bucket_bytes = max_bucket_bytes
        if meta is None:  # standalone use; DataSource passes its frozen copy
            meta = _manifest(path)
        # bounded-memory chunked fold on key-sorted tables; cluster_cols
        # order files by their own columns, so clustered tables fold the
        # whole bucket behind the byte guard
        self.streamed = not meta.get("cluster_cols")
        self.key_cols = list(meta.get("key_cols", ["repo", "path"]))
        self.columns = [f.name for f in T.StructType.fromJson(meta["schema"]).fields]
        self.head = int(meta.get("commit_seq", 0))
        # recompute lagging digests in the fold so no-op suppression
        # matches the JVM read exactly
        self.redigest = _redigest_cols(meta)
        self._meta = meta  # frozen manifest — pushFilters prunes against it
        self._buckets = sorted(
            set(meta.get("buckets", {})) | set(meta.get("deltas", {})), key=int
        )

    def pushFilters(self, filters):
        """Manifest-bounds partition pruning (PySpark 4.1 filter pushdown):
        translate the supported conjuncts to the predicate DSL and drop
        every bucket whose column bounds PROVE no row can match
        (lake._bounds_exclude_bucket — pure metadata, no Spark, exactly
        what this planning worker has). ALL filters are returned as
        residual: pruning here is conservative (bucket granularity), so
        Spark must still re-apply the full predicate to the folded rows —
        the same never-load-bearing contract as ``read_where``.

        No hash pruning on the bucket columns: it needs the engine's
        ``_bucket_expr`` and a SparkSession, which a planning worker lacks
        (use ``read_where`` / ``lookup`` for that)."""
        from bcdc2bcdc_spark.sources.lake import (
            _bounds_exclude_bucket,
            _usable_bounds_preds,
        )

        preds = []
        for flt in filters:
            op = _FILTER_OPS.get(type(flt))
            attr = getattr(flt, "attribute", ())
            if op is None or len(attr) != 1 or attr[0] not in self.columns:
                continue
            val = list(flt.value) if op == "in" else flt.value
            if val is None:
                continue
            preds.append((attr[0], op, val))
        usable = _usable_bounds_preds(self._meta, preds)
        if usable:
            self._buckets = [
                b for b in self._buckets
                if not _bounds_exclude_bucket(self._meta, int(b), usable)
            ]
        return filters

    def partitions(self):
        return [
            _BucketPartition(_bucket_spec(self._meta, self.path, b)) for b in self._buckets
        ] or [_BucketPartition({})]

    def read(self, partition: _BucketPartition) -> Iterator:
        spec = partition.value
        if not spec:
            return
        if self.streamed:
            # bounded memory: one Arrow batch per folded key-range chunk;
            # the byte ceiling is irrelevant here (peak is O(batch × gens))
            for df in _fold_bucket_streamed(
                spec, self.key_cols, self.columns, self.redigest
            ):
                yield self._finish(df)
            return
        _guard_bucket_bytes([spec], self.max_bucket_bytes)
        df = _fold_bucket(spec, self.key_cols, self.columns, self.redigest)
        if not df.empty:
            yield self._finish(df)

    def _finish(self, df):
        df["op"] = None
        df["_version"] = self.head
        for f in self.out_schema.fields:  # includepre → all-NULL pre_*
            if f.name.startswith("pre_") and f.name not in df.columns:
                df[f.name] = None
        return _to_record_batch(df, self.out_schema)


class LakeFeedStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        schema: T.StructType,
        start_seq: int,
        max_versions_per_batch: int = 0,
        include_pre: bool = False,
        max_bucket_bytes: int = DEFAULT_MAX_BUCKET_BYTES,
    ) -> None:
        self.path = path
        self.out_schema = schema
        self.start_seq = start_seq
        self.include_pre = include_pre
        self.max_bucket_bytes = max_bucket_bytes
        #: rate limit (maxOffsetsPerTrigger analog): cap how many source
        #: commits one micro-batch may span. 0 = unbounded (cheapest, nets
        #: out intermediate states); 1 = per-commit replay. The FIRST batch
        #: of a (re)started stream is always unbounded: the reader cannot
        #: see Spark's checkpointed progress until a batch is planned, and
        #: a start-seq-anchored clamp would stall a restarted stream.
        self.max_versions_per_batch = max_versions_per_batch
        self._cursor: int | None = None
        meta = _manifest(path)
        self.key_cols = list(meta.get("key_cols", ["repo", "path"]))

    def initialOffset(self) -> dict:
        return {"seq": self.start_seq}

    def latestOffset(self) -> dict:
        head = int(_manifest(self.path).get("commit_seq", 0))
        if self.max_versions_per_batch > 0 and self._cursor is not None:
            head = min(head, self._cursor + self.max_versions_per_batch)
        return {"seq": head}

    def partitions(self, start: dict, end: dict):
        a, b = int(start["seq"]), int(end["seq"])
        # advance the rate-limit cursor at PLANNING time — commit() may
        # lag the next latestOffset() poll. This is also where a
        # restarted stream reveals its checkpointed progress (`end` of
        # the replayed batch), seeding the cursor correctly.
        self._cursor = b if self._cursor is None else max(self._cursor, b)
        if b <= a:
            return [_BucketPartition({})]
        m_a, m_b = _manifest(self.path, a), _manifest(self.path, b)
        if int(m_a.get("n_buckets", 0)) != int(m_b.get("n_buckets", 0)):
            raise ValueError(
                f"bucket scheme changed inside stream interval {a}→{b} "
                "(rebucket); restart the stream from a post-rebucket offset "
                "or use the batch read_changes path"
            )
        columns = [f["name"] for f in m_b["schema"]["fields"]]
        redigest = _redigest_cols_between(m_a, m_b)
        out = [
            _BucketPartition(
                {
                    "old": _bucket_spec(m_a, self.path, bucket),
                    "new": _bucket_spec(m_b, self.path, bucket),
                    "columns": columns,
                    "version": b,
                    "redigest": redigest,
                }
            )
            for bucket in _changed_entries(m_a, m_b)
        ]
        return out or [_BucketPartition({})]

    def read(self, partition: _BucketPartition) -> Iterator:
        spec = partition.value
        if not spec:
            return
        _guard_bucket_bytes([spec["old"], spec["new"]], self.max_bucket_bytes)
        df = _diff_bucket(
            spec["old"],
            spec["new"],
            self.key_cols,
            spec["columns"],
            spec.get("redigest"),
            include_pre=self.include_pre,
        )
        if df.empty:
            return
        df["_version"] = spec["version"]
        yield _to_record_batch(df, self.out_schema)

    def commit(self, end: dict) -> None:
        # advance the rate-limit cursor; storage retention itself is the
        # lake's own commit-count contract
        e = int(end["seq"])
        self._cursor = e if self._cursor is None else max(self._cursor, e)


def register_lake_source(spark: SparkSession) -> None:
    """Register the ``cdclake`` source.

    SESSION-GLOBAL SIDE EFFECT: when the session has no explicit
    ``spark.sql.python.filterPushdown.enabled``, this turns it on (Spark
    rejects a reader with ``pushFilters`` while it is off), which also
    makes every OTHER Python data source's ``pushFilters`` run. An
    explicit value is never overridden; an explicit ``false`` makes
    cdclake reads fail until it is re-enabled."""
    if spark.conf.get("spark.sql.python.filterPushdown.enabled", None) is None:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LakeChangeFeedDataSource)


def stream_changes(
    spark: SparkSession,
    table_path: str,
    start_seq: int = 1,
    max_versions_per_batch: int = 0,
    include_pre: bool = False,
    max_bucket_bytes: int = DEFAULT_MAX_BUCKET_BYTES,
):
    """The change feed as an unbounded DataFrame (micro-batch per new
    committed version interval). ``max_versions_per_batch=1`` replays one
    source commit per micro-batch in steady state (exact audit trail);
    0 coalesces all outstanding commits into each batch (cheapest
    catch-up). The first batch of a (re)started stream is always
    coalesced — see LakeFeedStreamReader on why a start-anchored clamp
    would stall restarts."""
    register_lake_source(spark)
    return (
        spark.readStream.format("cdclake")
        .option("path", table_path)
        .option("startseq", str(start_seq))
        .option("maxversionsperbatch", str(max_versions_per_batch))
        .option("includepre", str(include_pre).lower())
        .option("maxbucketbytes", str(max_bucket_bytes))
        .load()
    )


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    max_bucket_bytes: int = DEFAULT_MAX_BUCKET_BYTES,
):
    """The current merged table state via the Python source (one
    partition per bucket, MOR deltas folded executor-side). The table's
    manifest picks the fold: on key-sorted tables (no cluster_cols) it
    streams in bounded-memory key-range chunks
    (``_fold_bucket_streamed``); clustered tables materialize the whole
    bucket behind the ``max_bucket_bytes`` guard
    (``_guard_bucket_bytes``) instead of OOMing the worker."""
    register_lake_source(spark)
    return (
        spark.read.format("cdclake")
        .option("path", table_path)
        .option("maxbucketbytes", str(max_bucket_bytes))
        .load()
    )
