"""The CoW commit as one Arrow merge task per touched bucket
(``HashBucketParquetTable._cow_merged_plan`` → ``datasource.cow_merge_bucket``):
its merge semantics against ``apply_changes`` on the pre-state, the
manifest it commits, the digests it stores, its file layout and its Spark
job budget."""

import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F, types as T

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.functions.digest import with_row_digest
from bcdc2bcdc_spark.generator import gen_events, gen_repos
from bcdc2bcdc_spark.operators.apply import apply_changes
from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
from bcdc2bcdc_spark.sources.datasource import _arrow_schema, _nullable_dtypes, read_snapshot
from bcdc2bcdc_spark.sources.lake import (
    HashBucketParquetTable,
    _z_interleave_np,
    _z_rank_np,
    _z_surrogate_np,
)
from tests.conftest import count_jobs, sorted_reprs, staging_jobs

CHANGE_SCHEMA = "repo string, path string, commit string, lang string, content string, op string"
PAYLOAD = ("commit", "lang", "content")


@pytest.fixture
def lake(spark, tmp_path):
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    return t


def _rows(t, n):
    return t.read().orderBy("repo", "path").limit(n).collect()


def _noop(t):
    # same compare payload, new commit: the stored row and commit stay
    r = _rows(t, 1)[0]
    return [(r["repo"], r["path"], "c-new", r["lang"], r["content"], "UPDATE")]


def _delete_missing(t):
    return [("no/such", "repo", None, None, None, "DELETE")]


def _mixed(t):
    a, b, c = _rows(t, 3)
    return [
        (a["repo"], a["path"], "c1", a["lang"], "changed", "UPDATE"),
        (b["repo"], b["path"], None, None, None, "DELETE"),
        (c["repo"], c["path"], "c2", "zz", c["content"], "ADD"),  # ADD on a live key
        ("new/repo", "x.py", "c3", "py", "fresh", "UPDATE"),  # UPDATE on a missing key
    ]


@pytest.mark.parametrize("impl", ["arrow", "jvm"])
@pytest.mark.parametrize("case", [_noop, _delete_missing, _mixed], ids=lambda f: f.__name__)
def test_merge_matches_apply_changes(spark, lake, case, impl):
    pre = spark.createDataFrame(lake.read().collect(), lake.data_schema())
    changes = spark.createDataFrame(case(lake), CHANGE_SCHEMA)
    want = apply_changes(pre, changes, compare_cols=("lang", "content"))
    lake.upsert(changes, digest_impl=impl)
    assert datasets_equal(lake.read(), want, compare_cols=PAYLOAD)
    # every stored digest is the JVM digest of the stored payload
    raw = with_row_digest(lake._read_raw(), ["lang", "content"], "_j", impl="jvm")
    assert raw.where(F.col("_digest") != F.col("_j")).count() == 0


def test_emptied_bucket_leaves_manifest(spark, tmp_path):
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=12, seed=2)))
    b = t._meta()["buckets"]
    victim = t.read().withColumn("_b", t.bucket_expr()).where(F.col("_b") == int(min(b)))
    gone = victim.select("repo", "path").collect()
    t.upsert(spark.createDataFrame(
        [(r["repo"], r["path"], None, None, None, "DELETE") for r in gone], CHANGE_SCHEMA
    ))
    assert min(b) not in t._meta()["buckets"]
    assert t.read().count() == 12 - len(gone)


def test_touched_superset_keeps_unchanged_buckets(spark, lake):
    """A bucket the caller names in ``touched`` but no change row hashes to
    gets no task: its manifest entry and rows stay as they are."""
    before = lake._meta()["buckets"]
    rows = lake.read().collect()
    changes = spark.createDataFrame(_mixed(lake)[:1], CHANGE_SCHEMA)
    (hit,) = [r[0] for r in changes.select(lake.bucket_expr()).collect()]
    lake.upsert(changes, touched=range(4))
    after = lake._meta()["buckets"]
    assert {b for b in after if after[b] != before[b]} == {str(hit)}
    assert lake.read().count() == len(rows)


def test_incomplete_touched_aborts(spark, lake):
    from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError

    changes = spark.createDataFrame(_mixed(lake)[:1], CHANGE_SCHEMA)
    (hit,) = [r[0] for r in changes.select(lake.bucket_expr()).collect()]
    before = lake._meta()
    with pytest.raises(ConcurrentWriteError, match="outside the declared"):
        lake.upsert(changes, touched=[(hit + 1) % 4])
    assert lake._meta() == before


def test_outstanding_mor_deltas_fold_and_clear(spark, tmp_path):
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4, write_mode="mor")
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    t.upsert(spark.createDataFrame(_mixed(t), CHANGE_SCHEMA))
    assert t._meta()["deltas"]
    t.set_write_mode("cow")
    pre = spark.createDataFrame(t.read().collect(), t.data_schema())
    a, b = _rows(t, 2)
    changes = spark.createDataFrame(
        [
            (a["repo"], a["path"], "c9", a["lang"], "again", "UPDATE"),
            (b["repo"], b["path"], None, None, None, "DELETE"),
        ],
        CHANGE_SCHEMA,
    )
    hit = {str(r[0]) for r in changes.select(t.bucket_expr()).collect()}
    t.upsert(changes)
    assert not hit & set(t._meta()["deltas"])
    want = apply_changes(pre, changes, compare_cols=("lang", "content"))
    assert datasets_equal(t.read(), want, compare_cols=PAYLOAD)


@pytest.mark.parametrize("impl", ["arrow", "jvm"])
def test_lagging_digest_cols_match_redigest(spark, lake, impl):
    """After ``evolve()`` the stored digests lag the compare set; the merge
    tasks re-digest the touched rows over it, to exactly the digests
    ``redigest()`` gives."""
    assert lake.evolve(
        T.StructType(lake.data_schema().fields + [T.StructField("stars", T.LongType())])
    )
    a, b = _rows(lake, 2)
    changes = spark.createDataFrame(
        [
            (a["repo"], a["path"], a["commit"], a["lang"], a["content"], 7, "UPDATE"),
            (b["repo"], b["path"], "c2", "go", "new", None, "UPDATE"),
        ],
        CHANGE_SCHEMA.replace(", op string", ", stars long, op string"),
    )
    lake.upsert(changes, digest_impl=impl)
    assert lake._meta()["digest_cols"] != lake.resolved_compare_cols()
    merged = {(r["repo"], r["path"]): r["_digest"] for r in lake._read_raw().collect()}
    lake.redigest()
    again = {(r["repo"], r["path"]): r["_digest"] for r in lake._read_raw().collect()}
    hit = {r[0] for r in changes.select(lake.bucket_expr()).collect()}
    touched = {k for k, in_b in _buckets_of(lake).items() if in_b in hit}
    assert touched and all(merged[k] == again[k] for k in touched)
    # a payload change in the evolved column alone is an update, not a no-op
    mine = (F.col("repo") == a["repo"]) & (F.col("path") == a["path"])
    assert [r["stars"] for r in lake.read().where(mine).collect()] == [7]


def _buckets_of(t):
    return {
        (r["repo"], r["path"]): r["_b"]
        for r in t.read().select("repo", "path", t.bucket_expr().alias("_b")).collect()
    }


def test_empty_compare_set(spark, tmp_path):
    """A pure key-mapping table (the secondary index's shape): every row
    digests to sha256(""), so a re-ADD is a no-op and a DELETE drops."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "idx"), key_cols=("lang", "repo", "path"),
        bucket_cols=("lang",), n_buckets=4, compare_cols=(),
    )
    schema = "lang string, repo string, path string"
    t.init(spark.createDataFrame([("go", "r", "a"), ("py", "r", "b")], schema))
    t.upsert(spark.createDataFrame(
        [("go", "r", "a", "ADD"), ("py", "r", "b", "DELETE"), ("rs", "r", "c", "ADD")],
        schema + ", op string",
    ), digest_impl="arrow")
    got = sorted(tuple(r) for r in t._read_raw().drop("_bucket").collect())
    empty = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    assert got == [("go", "r", "a", empty), ("rs", "r", "c", empty)]


TYPED = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("i", T.IntegerType()),
])


@pytest.mark.parametrize("impl", ["arrow", "jvm"])
def test_nullable_typed_compare_columns(spark, tmp_path, impl):
    """Nullable long, double, bool and binary compare columns: the task's
    digest equals the JVM digest, a NULL stays apart from NaN, and a
    no-op on a row holding NULLs keeps it."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "typed"), key_cols=("k",), n_buckets=2,
        compare_cols=("n", "d", "b", "bin"),
    )
    base = [
        ("a", 1, 1.5, True, b"\x00x", 1),
        ("b", None, None, None, None, None),
        ("c", -3, float("nan"), False, b"", 3),
        ("d", 4, -0.0, None, b"z", None),
    ]
    t.init(spark.createDataFrame(base, TYPED))
    changes = [
        ("a", None, float("nan"), None, b"\x00x", 9, "UPDATE"),
        ("b", None, None, None, None, 7, "UPDATE"),  # no-op: compare set equal
        ("c", -3, float("nan"), False, b"", 5, "UPDATE"),  # no-op with NaN
        ("e", 2**40, 1e-310, True, b"\xff", None, "ADD"),
    ]
    cs = spark.createDataFrame(changes, T.StructType(TYPED.fields + [T.StructField("op", T.StringType())]))
    pre = spark.createDataFrame(base, TYPED)
    want = apply_changes(pre, cs, key_cols=("k",), compare_cols=("n", "d", "b", "bin"))
    t.upsert(cs, digest_impl=impl)
    got = {r["k"]: r for r in t.read().collect()}
    assert sorted(got) == ["a", "b", "c", "d", "e"]
    assert got["b"]["i"] is None and got["c"]["i"] == 3  # no-ops kept the stored rows
    assert math.isnan(got["a"]["d"]) and got["a"]["n"] is None and got["a"]["i"] == 9
    assert got["e"]["d"] == 1e-310 and got["e"]["n"] == 2**40
    assert datasets_equal(t.read(), want, key_cols=("k",), compare_cols=("n", "d", "b", "bin", "i"))
    raw = t._read_raw()
    jvm = with_row_digest(raw, ["n", "d", "b", "bin"], "_j", impl="jvm")
    assert jvm.where(F.col("_digest") != F.col("_j")).count() == 0


def test_unmappable_type_raises(spark, tmp_path):
    """The bucket writer's Arrow type mapping is the table's type
    contract: ``init`` refuses a column it cannot map, before writing
    anything, and so does an upsert that would evolve the schema to one."""
    t = HashBucketParquetTable(spark, str(tmp_path / "dated"), key_cols=("k",), n_buckets=2,
                               compare_cols=("v",))
    with pytest.raises(TypeError, match="unsupported column type"):
        t.init(spark.sql("SELECT 'a' AS k, DATE'2024-01-01' AS v"))
    assert not t.exists()
    t.init(spark.sql("SELECT 'a' AS k, 'x' AS v"))
    with pytest.raises(TypeError, match="unsupported column type"):
        t.upsert(spark.sql("SELECT 'a' AS k, 'y' AS v, DATE'2024-01-02' AS d, 'UPDATE' AS op"))
    assert [f.name for f in t.data_schema().fields] == ["k", "v"]


def _gen_cow_upsert(spark, t):
    t.upsert(spark.createDataFrame(_mixed(t), CHANGE_SCHEMA))


def _gen_mor_delta(spark, t):
    t.set_write_mode("mor")
    t.upsert(spark.createDataFrame(_mixed(t), CHANGE_SCHEMA))


def _gen_compact_deltas(spark, t):
    _gen_mor_delta(spark, t)
    t.compact_deltas()


def _gen_redigest(spark, t):
    assert t.evolve(T.StructType(t.data_schema().fields + [T.StructField("stars", T.LongType())]))
    t.redigest()


#: how to write the newest generation of each kind on top of ``lake``
GENERATIONS = {
    "init": lambda spark, t: None,
    "cow_upsert": _gen_cow_upsert,
    "mor_delta": _gen_mor_delta,
    "compact": lambda spark, t: t.compact(max_files_per_bucket=0),
    "compact_deltas": _gen_compact_deltas,
    "redigest": _gen_redigest,
    "rebucket": lambda spark, t: t.rebucket(3),
}


@pytest.mark.parametrize("kind", list(GENERATIONS))
def test_generation_files_read_through_streamed_fold(spark, lake, kind):
    """Every generation kind is written by one bucket task per bucket:
    each bucket of the newest generation is one key-sorted file, and the
    ``cdclake`` source's bounded-memory fold reads the table as ``read()``
    does."""
    import glob
    import os

    import pyarrow.parquet as pq

    before = lake._referenced_gens(lake._meta())
    GENERATIONS[kind](spark, lake)
    (gen,) = lake._referenced_gens(lake._meta()) - before if kind != "init" else before
    dirs = glob.glob(os.path.join(lake.data_path, gen, "_bucket=*"))
    assert dirs
    for d in dirs:
        assert os.listdir(d) == ["part-00000.parquet"]
        keys = pq.read_table(os.path.join(d, "part-00000.parquet"), columns=["repo", "path"]).to_pylist()
        assert keys == sorted(keys, key=lambda r: (r["repo"], r["path"]))
    snap = read_snapshot(spark, lake.path).drop("op", "_version")
    assert sorted_reprs(snap) == sorted_reprs(lake.read())


def test_zorder_golden_values():
    """The Z-order's surrogates, ranks and Z-values on fixed rows and
    split points, for every surrogate type: literal values that the
    lake's earlier Spark Column version of the Z-order computed."""
    import numpy as np

    rows = [
        ("ab", 3, 2.5, True),
        ("", None, float("nan"), False),
        (None, -7, None, None),
        ("z", 100, -1.0, True),
        ("a", 5, 0.0, False),
        ("Ab", 5, 1e9, True),
    ]
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
    ])
    splits = {"s": [-1.0, 24832.0, 24930.0], "n": [0.0, 5.0], "d": [-0.5, 2.5], "b": [1.0]}
    dts = {f.name: f.dataType for f in schema.fields}
    # the task's own Arrow → pandas conversion (NaN stays apart from NULL)
    pdf = pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(schema.names)},
        schema=_arrow_schema(schema),
    ).to_pandas(types_mapper=_nullable_dtypes().get)
    nan, inf = float("nan"), float("inf")
    surrogates = {
        "s": [24930.0, 0.0, -256.0, 31232.0, 24832.0, 16738.0],
        "n": [3.0, nan, -7.0, 100.0, 5.0, 5.0],
        "d": [2.5, inf, nan, -1.0, 0.0, 1e9],  # NaN sorts above every number
        "b": [1.0, 0.0, nan, 1.0, 0.0, 1.0],
    }
    ranks = {
        "s": [3, 1, 0, 3, 2, 1],
        "n": [1, 0, 0, 2, 2, 2],
        "d": [2, 2, 0, 0, 1, 2],
        "b": [1, 0, 0, 1, 0, 1],
    }
    got = []
    for c in splits:
        sur = _z_surrogate_np(pdf[c], dts[c])
        np.testing.assert_array_equal(sur, surrogates[c], err_msg=c)
        got.append(_z_rank_np(sur, splits[c]))
        assert got[-1].tolist() == ranks[c], c
    assert _z_interleave_np(got).tolist() == [91, 65, 0, 57, 52, 105]


def test_cow_upsert_without_touched_runs_no_discovery_job(spark, lake, tmp_path):
    """A CoW ``upsert(touched=None)`` runs every job inside its merge-task
    staging write: the change set's shuffle and the tasks. A change set
    with an aggregate of its own (here an LWW-style dedup) is 3 jobs."""
    sc = spark.sparkContext
    changes = spark.createDataFrame(_mixed(lake) * 2, CHANGE_SCHEMA).dropDuplicates(["repo", "path"])
    staged = staging_jobs(sc, lake)
    jobs, _ = count_jobs(sc, lambda: lake.upsert(changes))
    assert jobs == 0 and staged == [3]


def test_apply_epoch_job_budget(spark, tmp_path):
    """A small pipeline epoch launches 5 jobs: 2 for the bookkeeping
    collect and 3 for the merge (the LWW shuffle, the bucket shuffle and
    the merge tasks)."""
    sc = spark.sparkContext
    ev = gen_events(spark, n_events=200, n_keys=50, n_epochs=1, seed=5).drop("epoch")
    ev.write.parquet(str(tmp_path / "ev"))
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=8)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=5)))
    pipe = CDCPipeline(table=t, checkpoints=CheckpointStore(str(tmp_path / "ck")))
    epoch = spark.read.parquet(str(tmp_path / "ev"))
    staged = staging_jobs(sc, t)
    jobs, _ = count_jobs(sc, lambda: pipe.apply_epoch(epoch, 0))
    assert (jobs, staged) == (2, [3])


def test_long_value_in_a_later_row_group_drops_that_columns_stats(tmp_path):
    """Arrow keeps an unsound min/max for a chunk holding a value over
    4096 bytes, so the bucket writer writes such a column with no
    statistics: decided at the first row group, or, when a later row
    group brings the value, by rewriting the groups already written."""
    import pandas as pd
    import pyarrow.parquet as pq

    from bcdc2bcdc_spark.sources.datasource import _write_bucket_file

    schema = pa.schema([("k", pa.string()), ("v", pa.string())])
    frames = [pd.DataFrame({"k": ["a"], "v": ["short"]}), pd.DataFrame({"k": ["b"], "v": ["x" * 5000]})]
    assert _write_bucket_file(str(tmp_path / "b"), iter(frames), schema, 1)[0] == 2
    assert sorted(p.name for p in (tmp_path / "b").iterdir()) == ["part-00000.parquet"]
    f = str(tmp_path / "b" / "part-00000.parquet")
    md = pq.read_metadata(f)
    assert md.num_row_groups == 2
    assert all(md.row_group(g).column(1).statistics is None for g in range(2))
    assert md.row_group(0).column(0).statistics.has_min_max
    assert pq.read_table(f).column("v").to_pylist() == ["short", "x" * 5000]


def test_nan_float_column_gets_no_statistics(tmp_path):
    """Arrow leaves NaN out of a float column's min/max, so the bucket
    writer writes a NaN-bearing float column with no statistics, from
    its first row group or from a later one on."""
    import pandas as pd
    import pyarrow.parquet as pq

    from bcdc2bcdc_spark.sources.datasource import _write_bucket_file

    schema = pa.schema([("k", pa.string()), ("d", pa.float64()), ("e", pa.float32())])
    frames = [
        pd.DataFrame({"k": ["a"], "d": [1.0], "e": [float("nan")]}),
        pd.DataFrame({"k": ["b"], "d": [float("nan")], "e": [2.0]}),
        pd.DataFrame({"k": ["c"], "d": [None], "e": [None]}),
    ]
    _write_bucket_file(str(tmp_path / "b"), iter(frames), schema, 1)
    md = pq.read_metadata(str(tmp_path / "b" / "part-00000.parquet"))
    assert md.num_row_groups == 3
    for g in range(3):
        assert md.row_group(g).column(0).statistics.has_min_max
        assert md.row_group(g).column(1).statistics is None
        assert md.row_group(g).column(2).statistics is None


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_nan_row_survives_pushed_and_pruned_filters(spark, tmp_path, mode):
    """A NaN written into a double stats column keeps its row in every
    filtered read: Spark orders NaN above every number, so ``d > 5``
    holds for it, and neither the parquet scan's row-group statistics nor
    the manifest bounds may skip it."""
    schema = "k string, d double"
    t = HashBucketParquetTable(
        spark, str(tmp_path / "lake"), key_cols=("k",), n_buckets=1,
        compare_cols=("d",), stats_cols=("d",), write_mode=mode,
    )
    t.init(spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema))
    t.upsert(spark.createDataFrame([("c", float("nan"), "ADD")], schema + ", op string"))
    for df in (
        t.read().filter(F.col("d") > 5.0),
        t.read().filter(F.col("d") == float("nan")),
        t.read_where([("d", ">", 5.0)]),
    ):
        assert [r["k"] for r in df.collect()] == ["c"]


@pytest.fixture
def whole_fold_raises(monkeypatch):
    """Run the CoW merge tasks with the whole-bucket fold's reader
    (``datasource._load_versions``) raising inside the Python worker."""
    from bcdc2bcdc_spark.sources import datasource

    def merge(plan, group):  # nested: shipped to the worker by value
        from bcdc2bcdc_spark.sources import datasource as ds

        def refuse(*_):
            raise AssertionError("the merge folded a key-sorted bucket whole")

        orig, ds._load_versions = ds._load_versions, refuse
        try:
            return ds.cow_merge_bucket(plan, group)
        finally:
            ds._load_versions = orig

    monkeypatch.setattr(datasource, "cow_merge_bucket", merge)


def _two_upserts_match_apply_changes(spark, t, batches, schema, key_cols, compare_cols):
    for batch in batches:
        pre = spark.createDataFrame(t.read().collect(), t.data_schema())
        changes = spark.createDataFrame(batch, schema + ", op string")
        want = apply_changes(pre, changes, key_cols=key_cols, compare_cols=compare_cols)
        t.upsert(changes)
        assert sorted_reprs(t.read()) == sorted_reprs(want)
    snap = read_snapshot(spark, t.path).drop("op", "_version")
    assert sorted_reprs(snap) == sorted_reprs(t.read())


def test_null_key_part_bucket_merges_streamed(spark, tmp_path, whole_fold_raises):
    """A bucket holding a NULL key part merges through the streamed fold
    (NULL sorts first, as Spark's writer puts it), twice, and matches
    ``apply_changes``."""
    schema = "repo string, path string, commit string, lang string, content string"
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=1)
    t.init(spark.createDataFrame(
        [(None, "p0", "c0", "go", "x"), ("r1", None, "c1", "py", "y"), ("r1", "p1", "c2", "go", "z")],
        schema,
    ))
    _two_upserts_match_apply_changes(spark, t, [
        [("r1", "p1", "c3", "go", "z2", "UPDATE"), ("r0", "p9", "c4", "rs", "new", "ADD")],
        [("r0", "p9", None, None, None, "DELETE"), ("a", "b", "c5", "go", "first", "ADD")],
    ], schema, ("repo", "path"), ("lang", "content"))


def test_nan_key_part_bucket_merges_streamed(spark, tmp_path, whole_fold_raises):
    """The same for a NaN in a double key column: NaN sorts above every
    number and equals itself, as in Spark."""
    schema = "k string, d double, v string"
    t = HashBucketParquetTable(
        spark, str(tmp_path / "lake"), key_cols=("k", "d"), n_buckets=1, compare_cols=("v",)
    )
    nan = float("nan")
    t.init(spark.createDataFrame(
        [("a", nan, "x"), ("a", 1.0, "y"), ("b", nan, "z"), ("b", -2.0, "w")], schema
    ))
    _two_upserts_match_apply_changes(spark, t, [
        [("a", nan, "x2", "UPDATE"), ("c", nan, "new", "ADD"), ("a", 0.5, "mid", "ADD")],
        [("b", nan, None, "DELETE"), ("a", 1.0, "y", "UPDATE"), ("c", nan, "again", "UPDATE")],
    ], schema, ("k", "d"), ("v",))
