"""Point lookup (``HashBucketParquetTable.lookup``): the rows it returns
and the Spark jobs it costs, in both write modes. Every result is checked
against ``read()`` restricted to the probe keys; the MOR table carries an
outstanding delta, so its lookups go through the read-time merge."""

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable
from tests.conftest import count_jobs

KEYS = ["repo", "path"]
# the payload leads with non-key columns; lookup still puts the keys first
COLUMNS = ["lang", "content", "repo", "commit", "path"]
N_BUCKETS = 64  # > the 40 keys, so some buckets are certainly absent


@pytest.fixture(scope="module", params=["cow", "mor"])
def lake(spark, tmp_path_factory, request):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path_factory.mktemp("lookup") / request.param),
        n_buckets=N_BUCKETS,
        write_mode=request.param,
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=40, seed=11)).select(*COLUMNS))
    first = t.read().orderBy(*KEYS).limit(2)
    t.upsert(
        first.withColumn("content", F.lit("updated")).withColumn("op", F.lit("UPDATE"))
    )
    if request.param == "mor":
        assert t._meta()["deltas"]
    return t


def _keys(lake, n, start=0):
    rows = lake.read().orderBy(*KEYS).select(*KEYS).collect()[start : start + n]
    return [tuple(r) for r in rows]


def _inline(spark, keys):
    """A client's key list as an inline ``VALUES`` table."""
    return spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({_lit(r)}, {_lit(p)})" for r, p in keys)
        + " AS k(repo, path)"
    )


def _lit(v):
    return "NULL" if v is None else "'" + v.replace("'", "\\'") + "'"


def _want(lake, keys):
    """``read()`` restricted to ``keys``, as sorted row tuples."""
    return _got(lake.read(), keep=set(keys))


def _got(df, keep=None):
    return sorted(
        tuple(r[c] for c in COLUMNS)
        for r in df.collect()
        if keep is None or (r["repo"], r["path"]) in keep
    )


def test_duplicate_probe_keys_return_each_row_once(spark, lake):
    keys = _keys(lake, 3)
    got = _got(lake.lookup(_inline(spark, keys * 3)))
    assert got == _want(lake, keys) and len(got) == 3
    assert "updated" in {r[1] for r in got}


def test_key_in_absent_bucket_returns_no_row(spark, lake):
    meta = lake._meta()
    live = set(meta["buckets"]) | set(meta.get("deltas", {}))
    ghosts = [("ghost", f"p{i}") for i in range(64)]
    bucket = dict(
        (tuple(r[:2]), r[2])
        for r in _inline(spark, ghosts).select(*KEYS, lake.bucket_expr()).collect()
    )
    ghost = next(k for k in ghosts if str(bucket[k]) not in live)
    assert lake.lookup(_inline(spark, [ghost])).collect() == []
    real = _keys(lake, 1)
    assert _got(lake.lookup(_inline(spark, [ghost, *real]))) == _want(lake, real)


def test_null_key_part_matches_nothing(spark, lake):
    ((repo, path),) = _keys(lake, 1, start=5)
    got = lake.lookup(_inline(spark, [(repo, None), (None, path)])).collect()
    assert got == []
    got = _got(lake.lookup(_inline(spark, [(repo, None), (repo, path)])))
    assert got == _want(lake, [(repo, path)]) and len(got) == 1


def test_output_columns_lead_with_the_keys(spark, lake):
    assert lake.data_schema().names == COLUMNS
    assert lake.lookup(_inline(spark, _keys(lake, 1))).columns == [
        "repo",
        "path",
        "lang",
        "content",
        "commit",
    ]


def test_parquet_key_frame_equals_inline(spark, lake, tmp_path):
    keys = _keys(lake, 4, start=1)
    _inline(spark, keys).write.parquet(str(tmp_path / "keys"))
    from_file = spark.read.parquet(str(tmp_path / "keys"))
    got = _got(lake.lookup(from_file))
    assert got == _got(lake.lookup(_inline(spark, keys))) == _want(lake, keys)


def test_inline_lookup_job_budget(spark, lake, tmp_path):
    """An inline key list's buckets fold at plan time: ``lookup`` runs no
    job, and its ``collect`` runs the broadcast and the scan (plus the
    merge's shuffle when a delta is outstanding). A key frame read from
    files pays one discovery job on top."""
    sc = spark.sparkContext
    scan = {"cow": 2, "mor": 3}[lake.write_mode]
    keys = _keys(lake, 4)
    jobs, df = count_jobs(sc, lambda: lake.lookup(_inline(spark, keys)))
    assert jobs == 0
    jobs, _ = count_jobs(sc, df.collect)
    assert jobs == scan
    _inline(spark, keys).write.parquet(str(tmp_path / "keys"))
    from_file = spark.read.parquet(str(tmp_path / "keys"))
    jobs, _ = count_jobs(sc, lambda: lake.lookup(from_file).collect())
    assert jobs == scan + 1
