"""Write-time sort clustering (cluster_cols — single-dimension Delta
OPTIMIZE ZORDER BY / Iceberg sort-order analog): generation files are
sorted within each bucket by the declared columns, making parquet
row-group min/max stats selective for predicates on them. Clustering is a
physical-layout property only — every read path must be unchanged.

The reference has no physical layout at all (complete in-memory dumps,
/root/reference/bcdc2bcdc/CKANData.py:1010-1050); this is the knob a
100 TB table needs so a range predicate on a non-bucket column skips row
groups instead of decoding every page of every surviving bucket.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

N_BUCKETS = 4


def _df(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 7)).alias("repo"),
        F.concat(F.lit("p"), F.col("id")).alias("path"),
        F.concat(F.lit("c"), F.col("id")).alias("commit"),
        F.concat(F.lit("L"), (F.col("id") % 3)).alias("lang"),
        # high-cardinality, ordered ≠ key order: zero-padded reverse id
        F.lpad((F.lit(10**6) - F.col("id")).cast("string"), 8, "0").alias("content"),
    )


def _gen_files(table, newest_only=False):
    """All parquet files of the table's data dir, grouped per file."""
    files = glob.glob(os.path.join(table.data_path, "gen-*", "_bucket=*", "*.parquet"))
    assert files
    return files


def _col_values_per_file(files, col):
    out = {}
    for f in files:
        t = pq.read_table(f, columns=[col])
        out[f] = t.column(col).to_pylist()
    return out


def _assert_sorted_within_files(files, col):
    for f, vals in _col_values_per_file(files, col).items():
        assert vals == sorted(vals), f"{col} not sorted within {f}"


def test_cluster_cols_sort_generation_files(spark, tmp_path):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=("repo", "path"),
        n_buckets=N_BUCKETS,
        compare_cols=("lang", "content"),
        cluster_cols=("content",),
    )
    t.init(_df(spark))
    _assert_sorted_within_files(_gen_files(t), "content")
    # and reads are unchanged: layout only
    assert t.read().count() == 400
    assert datasets_equal(
        t.read(), _df(spark), key_cols=("repo", "path"), compare_cols=("lang", "content")
    )


def test_default_sort_is_key_order(spark, tmp_path):
    """Regression: without cluster_cols the files stay key-sorted (the
    point-lookup row-group locality from the key-sorted write path)."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), n_buckets=N_BUCKETS,
        compare_cols=("lang", "content"),
    )
    t.init(_df(spark))
    for f, vals in _col_values_per_file(
        _gen_files(t), "repo"
    ).items():  # leading key column non-decreasing
        assert vals == sorted(vals), f"repo not sorted within {f}"


def test_cluster_cols_persisted(spark, tmp_path):
    """cluster_cols seed init() and are persisted: a fresh handle without
    the ctor arg writes its next generation clustered."""
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=("repo", "path"),
        n_buckets=N_BUCKETS,
        compare_cols=("lang", "content"),
        cluster_cols=("content",),
    )
    t.init(_df(spark, 200))
    t2 = HashBucketParquetTable(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), n_buckets=N_BUCKETS,
        compare_cols=("lang", "content"),
    )
    assert t2._meta()["cluster_cols"] == ["content"]
    before = set(_gen_files(t))
    t2.upsert(
        _df(spark, 300).withColumn("op", F.lit("UPDATE")).withColumn(
            "event_seq", F.col("path").substr(2, 10).cast("long")
        )
    )
    new = [f for f in _gen_files(t2) if f not in before]
    assert new
    _assert_sorted_within_files(new, "content")


def test_clustered_read_where_parity(spark, tmp_path):
    """Clustering + stats + pruning compose; results still equal the
    unpruned filtered read in both write modes."""
    for mode in ("cow", "mor"):
        t = HashBucketParquetTable(
            spark,
            str(tmp_path / f"t_{mode}"),
            key_cols=("repo", "path"),
            bucket_cols=("repo",),
            n_buckets=N_BUCKETS,
            compare_cols=("lang", "content"),
            cluster_cols=("content",),
            stats_cols=("content",),
            write_mode=mode,
        )
        t.init(_df(spark))
        t.upsert(
            _df(spark, 120).withColumn("lang", F.lit("L9"))
            .withColumn("op", F.lit("UPDATE"))
            .withColumn("event_seq", F.col("path").substr(2, 10).cast("long"))
        )
        preds = [("repo", "in", ("r1", "r5")), ("content", "between", ("00999700", "00999900"))]
        got = t.read_where(preds)
        from bcdc2bcdc_spark.sources.lake import compile_predicates

        want = t.read().filter(compile_predicates(preds))
        assert datasets_equal(
            got, want, key_cols=("repo", "path"), compare_cols=("lang", "content")
        )
        assert got.count() > 0  # non-vacuous


# ---------------------------------------------------------------------------
# Z-order (multi-dimension clustering)
# ---------------------------------------------------------------------------


def _grid_df(spark, n=4096):
    """Two INDEPENDENT uniform dimensions x = id%64 and y = (id//64)%64
    (a full 64x64 grid), zero-padded strings so the string surrogate sees
    the whole value. Under lexicographic (x, y) every x-run spans y's
    entire domain; under Z-order a chunk of rows stays narrow in BOTH."""
    return spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 7)).alias("repo"),
        F.concat(F.lit("p"), F.col("id")).alias("path"),
        F.lpad((F.col("id") % 64).cast("string"), 2, "0").alias("x"),
        F.lpad(((F.col("id") / 64).cast("long") % 64).cast("string"), 2, "0").alias("y"),
    )


def _chunk_overlaps(files, col, lo, hi, chunk=64):
    """Row-group min/max pruning math over simulated row groups: split
    each file's rows IN WRITTEN ORDER into chunks, count chunks whose
    [min, max] intersects [lo, hi] — exactly the footer-stats decision a
    parquet reader makes per row group."""
    total = overlapping = 0
    for f in files:
        vals = pq.read_table(f, columns=[col]).column(col).to_pylist()
        for i in range(0, len(vals), chunk):
            c = vals[i : i + chunk]
            if not c:
                continue
            total += 1
            if min(c) <= hi and max(c) >= lo:
                overlapping += 1
    return overlapping, total


def _mk_grid_table(spark, tmp_path, name, strategy):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / name),
        key_cols=("repo", "path"),
        n_buckets=2,
        compare_cols=("x", "y"),
        cluster_cols=("x", "y"),
        cluster_strategy=strategy,
    )
    t.init(_grid_df(spark))
    return t


def test_zorder_prunes_second_dimension(spark, tmp_path):
    """The claim Z-order exists for: a range predicate on the SECOND
    cluster column skips most row groups under zorder and almost none
    under lexicographic — and the two layouts hold identical data."""
    lex = _mk_grid_table(spark, tmp_path, "lex", "lexicographic")
    zo = _mk_grid_table(spark, tmp_path, "zo", "zorder")

    # layout-only: identical table contents
    assert datasets_equal(
        lex.read(), zo.read(), key_cols=("repo", "path"), compare_cols=("x", "y")
    )

    # first dimension: both layouts prune (zorder may be coarser)
    lex_x, total = _chunk_overlaps(_gen_files(lex), "x", "08", "15")
    zo_x, _ = _chunk_overlaps(_gen_files(zo), "x", "08", "15")
    assert lex_x < total and zo_x < total

    # SECOND dimension, narrow range (1/8 of the domain): lexicographic
    # chunks nearly all overlap; zorder skips the majority
    lex_y, lex_total = _chunk_overlaps(_gen_files(lex), "y", "08", "15")
    zo_y, zo_total = _chunk_overlaps(_gen_files(zo), "y", "08", "15")
    assert lex_y / lex_total > 0.9, f"lex unexpectedly selective: {lex_y}/{lex_total}"
    assert zo_y / zo_total < 0.5, f"zorder not selective on y: {zo_y}/{zo_total}"
    assert zo_y / zo_total < lex_y / lex_total


def test_zorder_real_rowgroup_stats_prune(spark, tmp_path):
    """The same decision through REAL parquet footers: re-chunk one
    written file into small row groups (order preserved) and count row
    groups whose footer min/max admit y in [08, 15]."""
    import pyarrow.parquet as _pq

    zo = _mk_grid_table(spark, tmp_path, "zo2", "zorder")
    f = _gen_files(zo)[0]
    rechunked = tmp_path / "rechunked.parquet"
    _pq.write_table(_pq.read_table(f), rechunked, row_group_size=64)
    md = _pq.ParquetFile(rechunked).metadata
    ycol = next(
        i for i in range(len(md.schema))
        if md.schema.column(i).name == "y"
    )
    admit = sum(
        1
        for g in range(md.num_row_groups)
        if md.row_group(g).column(ycol).statistics.min <= "15"
        and md.row_group(g).column(ycol).statistics.max >= "08"
    )
    assert md.num_row_groups >= 8
    assert admit / md.num_row_groups < 0.5


def test_cluster_strategy_persisted(spark, tmp_path):
    """cluster_strategy seeds init() and is persisted: a fresh ctor-less
    handle resolves it and writes its next generation Z-ordered, not in
    its own default layout. An unknown strategy is rejected at init."""
    _mk_grid_table(spark, tmp_path, "t", "zorder")
    t2 = HashBucketParquetTable(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), n_buckets=2,
        compare_cols=("x", "y"),
    )
    assert t2._meta()["cluster_strategy"] == "zorder"
    before = set(_gen_files(t2))
    t2.upsert(
        _grid_df(spark, 512).withColumn("op", F.lit("UPDATE")).withColumn(
            "event_seq", F.col("path").substr(2, 10).cast("long")
        )
    )
    new = [f for f in _gen_files(t2) if f not in before]
    assert new
    y, total = _chunk_overlaps(new, "y", "08", "15")
    assert y / total < 0.5, f"not Z-ordered: {y}/{total}"
    with pytest.raises(ValueError, match="cluster_strategy"):
        _mk_grid_table(spark, tmp_path, "bad", "hilbert")
    assert not HashBucketParquetTable(spark, str(tmp_path / "bad")).exists()
