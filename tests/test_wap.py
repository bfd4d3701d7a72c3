"""Write–audit–publish tests: the staged candidate equals the would-be
merge on both write modes, publish is a metadata-only atomic swap with
the usual optimistic-concurrency guard, abandon leaves zero trace, and
the handle's lifecycle is enforced."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError, HashBucketParquetTable


def _table(spark, tmp_path, mode="cow"):
    t = HashBucketParquetTable(
        spark, str(tmp_path / f"lake_{mode}"), n_buckets=8, write_mode=mode
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=200)))
    return t


def _changes(spark, base):
    rows = base.read().orderBy("repo", "path").limit(2).collect()
    u, d = rows
    return (
        spark.createDataFrame(
            [
                (u["repo"], u["path"], "c-u", u["lang"], "audited-content", OP_UPDATE),
                (d["repo"], d["path"], None, None, None, OP_DELETE),
                ("zz", "new.py", "c-a", "zig", "fresh", OP_ADD),
            ],
            "repo string, path string, commit string, lang string, content string, op string",
        ),
        rows,
    )


def _expected_after(spark, base, changes):
    keys = changes.select("repo", "path")
    survivors = base.read().join(keys, ["repo", "path"], "left_anti")
    applied = changes.where(F.col("op") != OP_DELETE).drop("op")
    return survivors.unionByName(applied)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stage_read_publish_parity(spark, tmp_path, mode):
    t = _table(spark, tmp_path, mode)
    before = t.read().collect()
    seq0 = t.commit_seq()
    changes, _ = _changes(spark, t)
    expected = _expected_after(spark, t, changes)
    staged = t.stage_upsert(changes)
    # the audit sees the would-be state; the table itself is untouched
    assert datasets_equal(staged.read(), expected)
    assert datasets_equal(t.read(), spark.createDataFrame(before, t.read().schema))
    assert t.commit_seq() == seq0
    # audit restricted to the touched buckets only
    part = staged.read(buckets=staged.touched)
    assert part.count() <= expected.count()
    assert part.join(expected, ["repo", "path"], "left_anti").count() == 0
    staged.publish()
    assert t.commit_seq() == seq0 + 1
    assert datasets_equal(t.read(), expected)
    if mode == "mor":
        assert t._meta()["deltas"], "MOR publish must append a delta, not rewrite"


def test_abandon_leaves_no_trace(spark, tmp_path):
    t = _table(spark, tmp_path)
    seq0 = t.commit_seq()
    before = t.read().collect()
    changes, _ = _changes(spark, t)
    staged = t.stage_upsert(changes)
    # the audit fails (pretend 'audited-content' violates a rule) → abandon
    assert staged.read().where(F.col("content") == "audited-content").count() == 1
    gen_dir = os.path.join(t.data_path, staged.gen)
    assert os.path.isdir(gen_dir)
    staged.abandon()
    assert not os.path.isdir(gen_dir)
    assert t.commit_seq() == seq0
    assert datasets_equal(t.read(), spark.createDataFrame(before, t.read().schema))
    with pytest.raises(RuntimeError, match="abandoned"):
        staged.publish()
    # the table remains fully writable afterwards
    t.upsert(changes)
    assert datasets_equal(t.read(), _expected_after(spark, t, changes))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_concurrent_commit_defeats_publish(spark, tmp_path, mode):
    t = _table(spark, tmp_path, mode)
    changes, rows = _changes(spark, t)
    staged = t.stage_upsert(changes)
    # another writer lands a commit between staging and publish
    other = spark.createDataFrame(
        [(rows[0]["repo"], rows[0]["path"], "c-x", rows[0]["lang"], "winner", OP_UPDATE)],
        "repo string, path string, commit string, lang string, content string, op string",
    )
    t.upsert(other)
    won = t._meta()
    with pytest.raises(ConcurrentWriteError):
        staged.publish()
    # the winner's state survives untouched
    assert t._meta() == won
    assert t.read().where(F.col("content") == "winner").count() == 1


def test_lost_publish_races_leave_no_pending_bounds(spark, tmp_path):
    """A publish that loses the commit race wrote no manifest, so the
    column bounds its handle collected for the staged generation go with
    it: nothing piles up on a handle that keeps losing."""
    path = str(tmp_path / "lake_stats")
    t = HashBucketParquetTable(spark, path, n_buckets=8, stats_cols=("lang",))
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=200)))
    winner = HashBucketParquetTable(spark, path, n_buckets=8, stats_cols=("lang",))
    changes, rows = _changes(spark, t)
    for i in range(3):
        staged = t.stage_upsert(changes)
        assert staged.gen in t._pending_gen_stats
        winner.upsert(
            spark.createDataFrame(
                [(rows[0]["repo"], rows[0]["path"], f"c-{i}", "rust", f"w{i}", OP_UPDATE)],
                "repo string, path string, commit string, lang string, content string, op string",
            )
        )
        won = t._meta()
        with pytest.raises(ConcurrentWriteError):
            staged.publish()
        assert t._meta() == won  # manifest and its stats untouched
    assert won["stats"]
    assert t._pending_gen_stats == {}


def test_empty_staging_and_lifecycle(spark, tmp_path):
    t = _table(spark, tmp_path)
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string, op string"
    )
    staged = t.stage_upsert(empty)
    assert staged.gen is None
    seq0 = t.commit_seq()
    staged.publish()
    assert t.commit_seq() == seq0  # no-op publish, like upsert's short-circuit
    with pytest.raises(RuntimeError, match="published"):
        staged.publish()
    with pytest.raises(RuntimeError, match="published"):
        staged.abandon()
    with pytest.raises(RuntimeError, match="published"):
        staged.read()


def test_publish_is_metadata_only(spark, tmp_path):
    """No new generation dirs appear between staging and publish — the
    data job ran at stage time; publish only swaps the manifest."""
    t = _table(spark, tmp_path)
    changes, _ = _changes(spark, t)
    staged = t.stage_upsert(changes)
    dirs_before = set(glob.glob(os.path.join(t.data_path, "gen-*")))
    staged.publish()
    assert set(glob.glob(os.path.join(t.data_path, "gen-*"))) <= dirs_before


def test_staged_full_purge_empties_buckets(spark, tmp_path):
    """A CoW staging whose merge EMPTIES every touched bucket (staged
    full purge) must audit as empty and publish as a real commit — not
    silently vanish (the manifest pops the buckets)."""
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos

    t = HashBucketParquetTable(spark, str(tmp_path / "purge"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=40)))
    seq0 = t.commit_seq()
    deletes = t.read().select(
        "repo", "path",
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
    ).withColumn("op", F.lit(OP_DELETE))
    st = t.stage_upsert(deletes)
    # the audit sees the WOULD-BE (empty) state, not the current rows
    assert st.read().count() == 0
    assert t.read().count() == 40  # nothing committed yet
    st.publish()
    assert t.commit_seq() == seq0 + 1
    assert t.read().count() == 0
    # and the feed records the purge as DELETEs
    assert (
        t.read_changes(seq0, seq0 + 1).where(F.col("op") == OP_DELETE).count()
        == 40
    )
