"""Secondary (alternate-key) index tests: build/probe parity vs a direct
filter, incremental refresh over the change feed (alt-value moves,
deletes, NULL alt values), the staleness contract, on-disk bucket
pruning by the alt key, crash-replay idempotence, and the bucket_cols
core-table invariants that make the index possible."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.index import SecondaryIndex, StaleIndexError
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable


@pytest.fixture
def base(spark, tmp_path):
    t = HashBucketParquetTable(
        spark, str(tmp_path / "base"), n_buckets=8, retain_generations=8
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=300)))
    return t


def _index(base, tmp_path):
    return SecondaryIndex(
        base, str(tmp_path / "idx"), index_cols=("lang",), n_buckets=4
    )


def _expected_entries(base):
    return (
        base.read()
        .where(F.col("lang").isNotNull())
        .select("lang", "repo", "path")
    )


def _entries_equal(a, b):
    # index entries are pure key mappings: identity is the whole row,
    # nothing to compare beyond presence
    return datasets_equal(
        a, b, key_cols=("lang", "repo", "path"), compare_cols=()
    )


def _change(repo, path, commit, lang, content, op):
    return (repo, path, commit, lang, content, op)


def _changes_df(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, op string"
    )


def test_build_and_lookup_parity(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    seq = idx.build()
    assert seq == base.commit_seq() == idx.indexed_seq()
    assert _entries_equal(idx.entries(), _expected_entries(base))
    langs = [r["lang"] for r in base.read().select("lang").distinct().limit(2).collect()]
    probe = spark.createDataFrame([(l,) for l in langs] + [("no-such-lang",)], "lang string")
    got = idx.lookup(probe)
    want = base.read().where(F.col("lang").isin(langs))
    assert datasets_equal(got, want)
    # a probe value absent from the corpus returns nothing, not an error
    none = idx.lookup(spark.createDataFrame([("no-such-lang",)], "lang string"))
    assert none.count() == 0


def test_refresh_applies_moves_adds_deletes(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    idx.build()
    rows = base.read().orderBy("repo", "path").limit(3).collect()
    moved, kept, gone = rows
    changes = _changes_df(
        spark,
        [
            _change("zz-new", "new/path.py", "c-new", "zig", "fresh", OP_ADD),
            _change(moved["repo"], moved["path"], "c-mv", "moved-lang", moved["content"], OP_UPDATE),
            _change(kept["repo"], kept["path"], "c-kp", kept["lang"], "content-changed", OP_UPDATE),
            _change(gone["repo"], gone["path"], None, None, None, OP_DELETE),
        ],
    )
    base.upsert(changes)
    stats = idx.refresh()
    assert stats["to_seq"] == base.commit_seq() == idx.indexed_seq()
    # full mapping parity against the post-upsert base state
    assert _entries_equal(idx.entries(), _expected_entries(base))
    # the moved key is served under its NEW alt value…
    got = idx.lookup(spark.createDataFrame([("moved-lang",)], "lang string"))
    assert [(r["repo"], r["path"]) for r in got.collect()] == [
        (moved["repo"], moved["path"])
    ]
    # …and no longer under the old one
    old = idx.lookup(
        spark.createDataFrame([(moved["lang"],)], "lang string")
    )
    assert (moved["repo"], moved["path"]) not in {
        (r["repo"], r["path"]) for r in old.collect()
    }


def test_refresh_noop_and_unchanged_alt_skips_index_writes(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    idx.build()
    assert idx.refresh()["entries"] == 0
    # a payload-only UPDATE (alt value unchanged) must cost the index
    # NOTHING: no entries, no index-table commit
    row = base.read().orderBy("repo", "path").limit(1).collect()[0]
    before_seq = idx._table().commit_seq()
    base.upsert(
        _changes_df(
            spark,
            [_change(row["repo"], row["path"], "c2", row["lang"], "new-content", OP_UPDATE)],
        )
    )
    stats = idx.refresh()
    assert stats["entries"] == 0
    assert idx._table().commit_seq() == before_seq
    assert _entries_equal(idx.entries(), _expected_entries(base))


def test_stale_lookup_contract(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    idx.build()
    base.upsert(
        _changes_df(spark, [_change("zz", "p.py", "c", "zig", "x", OP_ADD)])
    )
    probe = spark.createDataFrame([("zig",)], "lang string")
    with pytest.raises(StaleIndexError):
        idx.lookup(probe)
    # stale probe is allowed explicitly — it may MISS keys indexed before
    # the un-refreshed interval, but never invents rows
    assert idx.lookup(probe, allow_stale=True).count() == 0
    idx.refresh()
    assert idx.lookup(probe).count() == 1


def test_null_alt_values_are_unindexed(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    idx.build()
    # ADD with NULL alt → no entry; NULL→value and value→NULL transitions
    base.upsert(
        _changes_df(spark, [_change("zz", "n.py", "c", None, "x", OP_ADD)])
    )
    idx.refresh()
    assert _entries_equal(idx.entries(), _expected_entries(base))
    base.upsert(
        _changes_df(spark, [_change("zz", "n.py", "c2", "zig", "x", OP_UPDATE)])
    )
    assert idx.refresh()["entries"] == 1  # one ADD, no DELETE (old alt NULL)
    assert idx.lookup(spark.createDataFrame([("zig",)], "lang string")).count() == 1
    base.upsert(
        _changes_df(spark, [_change("zz", "n.py", "c3", None, "x", OP_UPDATE)])
    )
    assert idx.refresh()["entries"] == 1  # one DELETE (new alt NULL)
    assert idx.lookup(spark.createDataFrame([("zig",)], "lang string")).count() == 0
    assert _entries_equal(idx.entries(), _expected_entries(base))


def test_crash_replay_is_idempotent(spark, base, tmp_path):
    idx = _index(base, tmp_path)
    idx.build()
    row = base.read().orderBy("repo", "path").limit(1).collect()[0]
    base.upsert(
        _changes_df(
            spark,
            [
                _change(row["repo"], row["path"], "c", "moved-lang", row["content"], OP_UPDATE),
                _change("zz", "p.py", "c", "zig", "x", OP_ADD),
            ],
        )
    )
    before = idx.refresh()
    snap = idx.entries().collect()
    # simulate a crash BETWEEN the index-table commit and the state write:
    # roll the state file back and re-apply the same interval
    idx._write_state(before["from_seq"])
    again = idx.refresh()
    assert again["to_seq"] == before["to_seq"]
    assert _entries_equal(
        idx.entries(), spark.createDataFrame(snap, idx.entries().schema)
    )
    assert _entries_equal(idx.entries(), _expected_entries(base))


def test_index_buckets_prune_by_alt_value(base, tmp_path):
    """One alt value lives in exactly ONE index bucket on disk — the
    physical fact the probe-side pruning rests on."""
    idx = _index(base, tmp_path)
    idx.build()
    t = idx._table()
    seen = {}
    for d in glob.glob(os.path.join(t.data_path, "gen-*", "_bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        for r in t.spark.read.parquet(d).select("lang").distinct().collect():
            assert seen.setdefault(r["lang"], b) == b, (
                f"lang {r['lang']!r} appears in buckets {seen[r['lang']]} and {b}"
            )
    assert len(seen) > 1


def test_bucket_cols_must_be_subset_of_key_cols(spark, tmp_path):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "bad"),
        key_cols=("repo", "path"),
        bucket_cols=("lang",),
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="subset of key_cols"):
        t.init(canonicalize_snapshot(gen_repos(spark, n_keys=10)))


def test_index_cols_must_not_overlap_base_keys(base, tmp_path):
    with pytest.raises(ValueError, match="base key columns"):
        SecondaryIndex(base, str(tmp_path / "i2"), index_cols=("repo",))


def test_bucket_cols_persist_across_handles(spark, base, tmp_path):
    """A fresh handle opened WITHOUT bucket_cols resolves the persisted
    set (like n_buckets) — a stale constructor can never mis-bucket."""
    idx = _index(base, tmp_path)
    idx.build()
    fresh = HashBucketParquetTable(
        spark,
        os.path.join(str(tmp_path / "idx"), "table"),
        key_cols=("lang", "repo", "path"),
        n_buckets=4,
        compare_cols=(),
    )
    assert fresh._bucket_cols_resolved() == ["lang"]
    # an upsert through the un-parameterized handle still lands the row in
    # the alt-hashed bucket: the pruning invariant survives
    fresh.upsert(
        spark.createDataFrame(
            [("zig", "zz", "p.py", OP_ADD)], "lang string, repo string, path string, op string"
        )
    )
    for d in glob.glob(os.path.join(fresh.data_path, "gen-*", "_bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        langs = {r["lang"] for r in spark.read.parquet(d).select("lang").collect()}
        expected = {
            r["_b"]
            for r in spark.createDataFrame([(l,) for l in langs], "lang string")
            .select(
                F.pmod(F.xxhash64(F.col("lang")), F.lit(4)).cast("int").alias("_b")
            )
            .collect()
        }
        assert expected == {b}


def test_crash_replay_with_further_commits_no_phantom(spark, base, tmp_path):
    """Crash between the index commit and the state write, followed by
    MORE base commits: the write-ahead intent makes the next refresh
    replay exactly the crashed interval, so an alt-move materialized by
    the crashed apply cannot be cancelled out of the net feed and leave
    a phantom entry behind."""
    idx = _index(base, tmp_path)
    idx.build()
    row = base.read().orderBy("repo", "path").limit(1).collect()[0]
    s0 = base.commit_seq()
    base.upsert(
        _changes_df(
            spark,
            [_change(row["repo"], row["path"], "c1", "moved-y", row["content"], OP_UPDATE)],
        )
    )
    idx.refresh()  # applies x->moved-y; index now has (moved-y, K)
    # simulate the crash: state rolled back to s0 WITH the intent recorded
    idx._write_state(s0, inflight_to=base.commit_seq())
    # base moves the alt AGAIN before the replay runs
    base.upsert(
        _changes_df(
            spark,
            [_change(row["repo"], row["path"], "c2", "moved-z", row["content"], OP_UPDATE)],
        )
    )
    idx.refresh()
    assert _entries_equal(idx.entries(), _expected_entries(base))
    # the phantom probe: nothing may come back for the intermediate value
    assert idx.lookup(
        spark.createDataFrame([("moved-y",)], "lang string")
    ).count() == 0
    got = idx.lookup(spark.createDataFrame([("moved-z",)], "lang string"))
    assert [(r["repo"], r["path"]) for r in got.collect()] == [
        (row["repo"], row["path"])
    ]


def test_stale_lookup_never_invents_rows(spark, base, tmp_path):
    """allow_stale=True may MISS keys but must never return a row whose
    alt value does not match the probe (the final semi-join guard)."""
    idx = _index(base, tmp_path)
    idx.build()
    row = base.read().orderBy("repo", "path").limit(1).collect()[0]
    base.upsert(
        _changes_df(
            spark,
            [_change(row["repo"], row["path"], "c", "moved-lang", row["content"], OP_UPDATE)],
        )
    )
    # stale index still maps (old-lang -> K), but K's CURRENT row has
    # lang=moved-lang — it must NOT be returned for the old value
    got = idx.lookup(
        spark.createDataFrame([(row["lang"],)], "lang string"), allow_stale=True
    )
    assert (row["repo"], row["path"]) not in {
        (r["repo"], r["path"]) for r in got.collect()
    }


def test_lookup_job_budget(spark, tmp_path):
    """An inline probe's index-bucket hash folds at plan time: building
    the lookup frame runs 2 jobs (the base-bucket discovery over the
    matched index entries) and its collect 3. A duplicated probe value
    returns each row once at the same cost; a parquet-backed probe adds
    one job, its own bucket collect."""
    from tests.conftest import count_jobs

    sc = spark.sparkContext
    base = HashBucketParquetTable(spark, str(tmp_path / "base"), n_buckets=8)
    base.init(canonicalize_snapshot(gen_repos(spark, n_keys=200, seed=3)))
    idx = _index(base, tmp_path)
    idx.build()
    want = base.read().where(F.col("lang") == "go")
    spark.createDataFrame([("go",)], "lang string").write.parquet(str(tmp_path / "probe"))
    for probe, build_jobs in (
        (spark.sql("SELECT * FROM VALUES ('go') AS v(lang)"), 2),
        (spark.sql("SELECT * FROM VALUES ('go'), ('go') AS v(lang)"), 2),
        (spark.read.parquet(str(tmp_path / "probe")), 3),
    ):
        jobs, got = count_jobs(sc, lambda: idx.lookup(probe))
        assert jobs == build_jobs
        jobs, rows = count_jobs(sc, got.collect)
        assert jobs == 3
        by_name = lambda rs: sorted(sorted(r.asDict().items()) for r in rs)  # noqa: E731
        assert by_name(rows) == by_name(want.collect())
