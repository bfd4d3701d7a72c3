"""Lake backend + checkpointed pipeline tests: upsert parity, empty-bucket
deletion, write guard, MERGE SQL shape, end-to-end vs oracle with ignores,
kill-and-resume, lineage invariants, full-log replay convergence."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events, canonicalize_snapshot
from bcdc2bcdc_spark.generator import IGNORED_REPOS, gen_events, gen_repos
from bcdc2bcdc_spark.operators.apply import apply_changes
from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.operators.lww import lww_dedup
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
from bcdc2bcdc_spark.sources.fs import LocalFS
from bcdc2bcdc_spark.sources.lake import (
    HashBucketParquetTable,
    ProtectedTableError,
    iceberg_merge_sql,
)

from tests.conftest import count_jobs, manifest_reads, staging_jobs
from tests.oracle import content_sha_index, replay


@pytest.fixture
def tmp_table(spark, tmp_path):
    return HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=8)


def test_lake_init_read_roundtrip(spark, tmp_table):
    base = canonicalize_snapshot(gen_repos(spark, n_keys=400))
    tmp_table.init(base)
    assert datasets_equal(tmp_table.read(), base)
    # data really is bucket-partitioned on disk (inside a generation dir)
    assert glob.glob(os.path.join(tmp_table.data_path, "gen-*", "_bucket=*"))


def test_lake_upsert_matches_apply_changes(spark, tmp_table):
    base = canonicalize_snapshot(gen_repos(spark, n_keys=400, seed=3))
    ev = canonicalize_events(gen_events(spark, n_events=2000, n_keys=400, n_epochs=1, seed=3))
    winners = lww_dedup(ev.drop("epoch"))
    tmp_table.init(base)
    tmp_table.upsert(winners)
    expected = apply_changes(base, winners)
    assert datasets_equal(tmp_table.read(), expected)


def test_lake_upsert_prunes_untouched_buckets(spark, tmp_table):
    """Scale property: an upsert touching few keys must not rewrite the
    whole table — untouched bucket files keep their mtime/identity."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=400, seed=9))
    tmp_table.init(base)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(tmp_table.data_path, "*", "_bucket=*", "*.parquet"))
    }
    one = tmp_table.read().limit(1).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("changed!")
    ).withColumn("event_seq", F.lit(1).cast("long"))
    tmp_table.upsert(one)
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(tmp_table.data_path, "*", "_bucket=*", "*.parquet"))
    }
    untouched_same = [p for p in before if p in after and before[p] == after[p]]
    assert untouched_same, "expected untouched bucket files to survive upsert"


def test_lake_delete_can_empty_a_bucket(spark, tmp_table):
    base = canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=4))
    tmp_table.init(base)
    everything = tmp_table.read().withColumn("op", F.lit("DELETE")).withColumn(
        "content", F.lit(None).cast("string")
    ).withColumn("event_seq", F.lit(1).cast("long"))
    tmp_table.upsert(everything)
    assert tmp_table.read().count() == 0  # stale-partition bug regression


def _backdate_tree(root, secs):
    """Recursively age a directory tree (the sweep's activity age is the
    NEWEST mtime in the tree, so only a full backdate makes it old)."""
    import time as _t

    old = _t.time() - secs
    for r, _ds, _fs in os.walk(root):
        os.utime(r, (old, old))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_concurrent_upsert_loses_cleanly(spark, tmp_path, mode):
    """Optimistic concurrency: a writer whose base read predates another
    writer's commit ABORTS at its own commit (ConcurrentWriteError) instead
    of merging against the stale manifest and silently dropping the
    winner's rows; the winner's manifest survives untouched and the
    loser's staged generation is swept at the next commit."""
    from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError

    tmp_table = HashBucketParquetTable(
        spark, str(tmp_path / "lake"), n_buckets=8, write_mode=mode
    )
    base = canonicalize_snapshot(gen_repos(spark, n_keys=200, seed=13))
    tmp_table.init(base)

    def _change(content, seq):
        return (
            tmp_table.read()
            .limit(1)
            .withColumn("op", F.lit("UPDATE"))
            .withColumn("content", F.lit(content))
            .withColumn("event_seq", F.lit(seq).cast("long"))
        )

    winner = HashBucketParquetTable(spark, tmp_table.path, n_buckets=8)
    orig_stage = tmp_table._write_generation  # the staging write
    won = []

    def _interleaved_stage(*args):
        out = orig_stage(*args)
        # the OTHER writer commits while this writer is still staging
        winner.upsert(_change("winner-content", 2))
        won.append(winner._meta())
        return out

    tmp_table._write_generation = _interleaved_stage
    try:
        with pytest.raises(ConcurrentWriteError):
            tmp_table.upsert(_change("loser-content", 1))
    finally:
        tmp_table._write_generation = orig_stage

    assert tmp_table._meta() == won[0]
    contents = {r["content"] for r in tmp_table.read().collect()}
    assert "winner-content" in contents and "loser-content" not in contents
    # the loser's orphaned staging is swept by the next successful commit
    # once it ages past the in-flight grace period (backdate to simulate)
    for d in tmp_table.fs.list_subdirs(tmp_table.data_path):
        _backdate_tree(os.path.join(tmp_table.data_path, d), 2 * tmp_table.staging_grace_s)
    tmp_table.upsert(_change("after-content", 3))
    live = tmp_table._referenced_gens(tmp_table._meta()) | set(
        tmp_table._meta().get("retired", {})
    )
    on_disk = set(tmp_table.fs.list_subdirs(tmp_table.data_path))
    assert on_disk <= live


class _RacingFS(LocalFS):
    """A metadata FS that runs ``race`` once, right after the next
    manifest read it serves — another writer committing inside that
    window."""

    race = None

    def read_json(self, path):
        out = super().read_json(path)
        if self.race is not None and path.endswith("_table.json"):
            race, self.race = self.race, None
            race()
        return out


@pytest.mark.parametrize(
    "op",
    [
        lambda t: t.set_stats_cols(["lang"]),
        lambda t: t.set_write_mode("mor"),
        lambda t: t.restore(1),
    ],
    ids=["set_stats_cols", "set_write_mode", "restore"],
)
def test_metadata_commit_loses_cleanly(spark, tmp_path, op):
    """Metadata-only commits carry the upserts' guard: a second handle
    committing right after the op's first manifest read makes the op
    raise ConcurrentWriteError, and the winner's manifest is left as it
    wrote it."""
    from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError

    fs = _RacingFS()
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4, fs=fs)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    other = HashBucketParquetTable(spark, t.path, n_buckets=4)

    def _change(content):
        return (
            other.read()
            .limit(1)
            .withColumn("op", F.lit("UPDATE"))
            .withColumn("content", F.lit(content))
        )

    other.upsert(_change("second"))  # seq 2, so restore(1) has work
    won = []

    def _race():
        other.upsert(_change("winner"))
        won.append(other._meta())

    fs.race = _race
    with pytest.raises(ConcurrentWriteError):
        op(t)
    assert won and t._meta() == won[0]
    assert "winner" in {r["content"] for r in t.read().collect()}


def test_metadata_commits_launch_no_job(spark, tmp_path):
    """restore and set_stats_cols are manifest-only commits: 0 Spark jobs;
    a flip to the value already held is no commit."""
    sc = spark.sparkContext
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    t.upsert(t.read().limit(1).withColumn("op", F.lit("DELETE")))
    assert count_jobs(sc, lambda: t.restore(1))[0] == 0
    assert count_jobs(sc, lambda: t.set_stats_cols(["lang"]))[0] == 0
    t.set_stats_cols(["lang"])  # the same value again commits nothing
    assert t.commit_seq() == 4


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_upsert_manifest_read_budget(spark, tmp_path, mode):
    """An upsert reads the manifest at most 3 times (the base read, the
    commit head and the post-commit sweep) and never asks whether it
    exists: schema evolution, the row layout and the stats columns all
    work from the base read, not from reads of their own."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "lake"), n_buckets=4, write_mode=mode,
        stats_cols=("lang",),
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    changes = t.read().limit(2).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("budget")
    )
    reads, exists, _ = manifest_reads(t, lambda: t.upsert(changes))
    assert (reads <= 3, exists) == (True, 0), (reads, exists)
    assert t.read().where(F.col("content") == "budget").count() == 2
    assert t._meta()["stats"]  # the stats columns still came from the manifest


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_upsert_with_touched_runs_jobs_only_in_staging_write(spark, tmp_path, mode):
    """With ``touched`` given, every Spark job of an upsert belongs to its
    staging write: no discovery, plan-build or commit job."""
    sc = spark.sparkContext
    t = HashBucketParquetTable(
        spark, str(tmp_path / "lake"), n_buckets=4, write_mode=mode
    )
    base = canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8))
    t.init(base)
    row = base.orderBy("repo", "path").first()
    changes = spark.createDataFrame(
        [(row["repo"], row["path"], "c9", row["lang"], "budgeted", "UPDATE")],
        "repo string, path string, commit string, lang string, content string, op string",
    )
    touched = [r[0] for r in changes.select(t.bucket_expr()).collect()]
    staging = staging_jobs(sc, t)
    assert count_jobs(sc, lambda: t.upsert(changes, touched=touched))[0] == 0
    assert sum(staging)
    assert t.read().where(F.col("content") == "budgeted").count() == 1


def test_mor_upsert_without_touched_runs_no_discovery_job(spark, tmp_path):
    """A MOR ``upsert(touched=None)`` runs every job inside its staging
    write (the delta's bucket tasks find the touched buckets themselves),
    and an upsert whose change set holds no row stages nothing."""
    sc = spark.sparkContext
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4, write_mode="mor")
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=8)))
    changes = t.read().limit(3).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("mor")
    )
    staging = staging_jobs(sc, t)
    assert count_jobs(sc, lambda: t.upsert(changes))[0] == 0
    assert len(staging) == 1 and staging[0] > 0
    assert t.read().where(F.col("content") == "mor").count() == 3
    seq, gens = t.commit_seq(), set(os.listdir(t.data_path))
    t.upsert(changes.limit(0))
    assert (t.commit_seq(), set(os.listdir(t.data_path))) == (seq, gens)


def test_generation_write_job_budgets(spark, tmp_path):
    """``init``, ``compact`` and ``rebucket`` each run 2 jobs (the input's
    shuffle and the bucket tasks), all inside the staging write. A
    Z-order table's ``init`` runs the same 2: its split points come from
    each bucket's rows in the task, with no quantile job."""
    sc = spark.sparkContext
    base = canonicalize_snapshot(gen_repos(spark, n_keys=200, seed=3))
    base.write.parquet(str(tmp_path / "base"))
    base = spark.read.parquet(str(tmp_path / "base"))

    def budget(t, fn):
        staging = staging_jobs(sc, t)
        jobs, _ = count_jobs(sc, fn)
        del t._write_generation
        return jobs, staging

    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=8)
    assert budget(t, lambda: t.init(base)) == (0, [2])
    assert budget(t, lambda: t.compact(max_files_per_bucket=0)) == (0, [2])
    assert budget(t, lambda: t.rebucket(4)) == (0, [2])
    z = HashBucketParquetTable(
        spark, str(tmp_path / "z"), n_buckets=4, cluster_cols=("lang", "content"),
        cluster_strategy="zorder",
    )
    assert budget(z, lambda: z.init(base)) == (0, [2])
    assert datasets_equal(z.read(), base)


def test_write_guard(spark, tmp_path):
    t = HashBucketParquetTable(spark, str(tmp_path / "guarded"), protected=True)
    with pytest.raises(ProtectedTableError):
        t.init(gen_repos(spark, n_keys=10))


def test_iceberg_merge_sql_branches():
    sql = iceberg_merge_sql("cat.db.repos", "changes")
    assert "WHEN MATCHED AND s.op = 'DELETE' THEN DELETE" in sql
    assert "WHEN MATCHED AND NOT (t.lang <=> s.lang AND t.content <=> s.content)" in sql
    assert "WHEN NOT MATCHED AND s.op <> 'DELETE' THEN INSERT" in sql


def _mk_pipeline(spark, tmp_path, **kw):
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=8)
    cp = CheckpointStore(str(tmp_path / "ckpt"))
    kw.setdefault("ignore_repos", IGNORED_REPOS)
    return table, cp, CDCPipeline(table=table, checkpoints=cp, **kw)


def test_pipeline_end_to_end_vs_oracle(spark, tmp_path):
    base = gen_repos(spark, n_keys=500, seed=42)
    ev = gen_events(spark, n_events=3000, n_keys=500, n_epochs=3, seed=42)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    results = pipe.run(ev)
    assert all(results.values()) and len(results) == 3

    oracle = replay(base.toPandas(), ev.toPandas(), ignored_repos=set(IGNORED_REPOS))
    got = table.read().toPandas()
    # north-rule per-row invariant: sha256(content) equality, every key
    assert content_sha_index(got) == content_sha_index(oracle)


def test_pipeline_rerun_skips_committed(spark, tmp_path):
    base = gen_repos(spark, n_keys=200, seed=1)
    ev = gen_events(spark, n_events=800, n_keys=200, n_epochs=2, seed=1)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    assert list(pipe.run(ev).values()) == [True, True]
    snap = table.read().cache()
    assert list(pipe.run(ev).values()) == [False, False]  # resume = all skipped
    assert datasets_equal(table.read(), snap)
    snap.unpersist()


def test_pipeline_kill_and_resume(spark, tmp_path):
    """Crash AFTER the epoch-1 data write but BEFORE its marker: resume must
    replay epoch 1 and converge to the straight-through result."""
    base = gen_repos(spark, n_keys=300, seed=8)
    ev = gen_events(spark, n_events=1500, n_keys=300, n_epochs=2, seed=8)
    # straight-through reference run
    t_ref, _, pipe_ref = _mk_pipeline(spark, tmp_path / "ref")
    t_ref.init(canonicalize_snapshot(base))
    pipe_ref.run(ev)

    table, cp, pipe = _mk_pipeline(spark, tmp_path / "crash")
    table.init(canonicalize_snapshot(base))
    e0 = ev.filter(F.col("epoch") == 0).drop("epoch")
    e1 = ev.filter(F.col("epoch") == 1).drop("epoch")
    pipe.apply_epoch(e0, 0)
    # simulate the crash: data applied, marker never written
    table.upsert(pipe.prepare_batch(e1), digest_impl=pipe.digest_impl)
    assert cp.committed_epochs() == {0}
    # resume: epoch 0 skipped, epoch 1 REPLAYED onto already-applied state
    results = pipe.run(ev)
    assert results == {0: False, 1: True}
    assert datasets_equal(table.read(), t_ref.read())


def test_lineage_sums_match_epoch_counts(spark, tmp_path):
    base = gen_repos(spark, n_keys=200, seed=2)
    ev = gen_events(spark, n_events=1000, n_keys=200, n_epochs=2, seed=2)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    pipe.run(ev)
    lineage = cp.read_lineage(spark)
    got = {
        r["epoch"]: r["total"]
        for r in lineage.groupBy("epoch").agg(F.sum("events_applied").alias("total")).collect()
    }
    want = {
        r["epoch"]: r["count"]
        for r in ev.groupBy("epoch").count().collect()
    }
    assert got == want
    # upserts + deletes == events_applied, bytes positive
    bad = lineage.filter(
        (F.col("upserts") + F.col("deletes") != F.col("events_applied"))
        | (F.col("bytes") < 0)
    )
    assert bad.count() == 0


def test_ignored_repos_never_reach_table(spark, tmp_path):
    base = gen_repos(spark, n_keys=300, seed=6)
    ev = gen_events(spark, n_events=2000, n_keys=300, n_epochs=1, seed=6)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    # base itself contains ignored repos (they pre-exist; engine only skips
    # *events* for them — the reference leaves ignored DEST records alone)
    table.init(canonicalize_snapshot(base))
    before = table.read().filter(F.col("repo").isin(*IGNORED_REPOS)).cache()
    pipe.run(ev)
    after = table.read().filter(F.col("repo").isin(*IGNORED_REPOS))
    assert datasets_equal(after, before)
    before.unpersist()


def test_lineage_idempotent_under_replay(spark, tmp_path):
    """Regression: a crash-replayed epoch must not double-count lineage."""
    base = gen_repos(spark, n_keys=150, seed=13)
    ev = gen_events(spark, n_events=600, n_keys=150, n_epochs=2, seed=13)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    pipe.run(ev)
    os.remove(os.path.join(cp.offsets_dir, "epoch_1.json"))  # crash before marker
    pipe.run(ev)  # replay epoch 1
    got = {
        r["epoch"]: r["total"]
        for r in cp.read_lineage(spark)
        .groupBy("epoch")
        .agg(F.sum("events_applied").alias("total"))
        .collect()
    }
    want = {r["epoch"]: r["count"] for r in ev.groupBy("epoch").count().collect()}
    assert got == want


def test_empty_epoch_commits_cleanly(spark, tmp_path):
    """An epoch with zero events must still commit its marker (offset -1)
    and leave the table untouched."""
    base = gen_repos(spark, n_keys=100, seed=3)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    empty = gen_events(spark, n_events=10, n_keys=10, seed=3).drop("epoch").limit(0)
    before = table.read().cache()
    assert pipe.apply_epoch(empty, 0) is True
    assert cp.is_committed(0)
    assert cp.read_offsets(0)["offset_start"] == -1
    assert datasets_equal(table.read(), before)
    before.unpersist()


def test_all_ignored_epoch_is_noop_but_counted(spark, tmp_path):
    """An epoch consisting only of ignore-listed repos: table untouched,
    lineage still counts the raw events (they were tailed, then skipped)."""
    base = gen_repos(spark, n_keys=100, seed=4)
    ev = gen_events(spark, n_events=3000, n_keys=600, seed=4).filter(
        F.col("repo").isin(*IGNORED_REPOS)
    ).drop("epoch")
    n = ev.count()
    assert n > 0
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    before = table.read().cache()
    assert pipe.apply_epoch(ev, 0) is True
    assert datasets_equal(table.read(), before)
    got = cp.read_lineage(spark).agg(F.sum("events_applied")).first()[0]
    assert got == n
    before.unpersist()


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    base = gen_repos(spark, n_keys=300, seed=15)
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(base))
    # upsert rewrites touched buckets into fresh generations; crowding
    # comes from APPEND-mode writers (streaming sinks, external loaders) —
    # simulate one: append extra files into the CURRENT generation's buckets
    # disjoint keys: base used key ids 0..299 → file numbers < 300
    extra = canonicalize_snapshot(gen_repos(spark, n_keys=900, seed=16)).filter(
        F.regexp_extract("path", r"file_(\d+)", 1).cast("int") >= 300
    )
    from bcdc2bcdc_spark.functions.digest import with_row_digest
    from bcdc2bcdc_spark.sources.lake import _bucket_expr

    (
        with_row_digest(extra, ["lang", "content"], "_digest")
        .withColumn("_bucket", _bucket_expr(table.key_cols, table.n_buckets))
        .repartition(4, "_bucket")
        .write.mode("append")
        .partitionBy("_bucket")
        .parquet(os.path.join(table.data_path, next(iter(table._meta()["buckets"].values()))))
    )
    before = table.read().cache()
    n_files_before = sum(len(table._part_files(b)) for b in range(table.n_buckets))
    compacted = table.compact(max_files_per_bucket=1)
    assert compacted  # something was crowded
    n_files_after = sum(len(table._part_files(b)) for b in range(table.n_buckets))
    assert n_files_after < n_files_before
    assert datasets_equal(table.read(), before)  # content untouched
    # idempotent: compacting a compacted table is a no-op
    assert table.compact(max_files_per_bucket=1) == []
    before.unpersist()


def test_malformed_events_quarantined(spark, tmp_path):
    """Null-business-key events (unmergeable) go to the dead-letter dir,
    never the lake; '' keys canonicalize to NULL and count as malformed."""
    base = gen_repos(spark, n_keys=100, seed=44)
    good = gen_events(spark, n_events=400, n_keys=100, n_epochs=1, seed=44).drop("epoch")
    bad = spark.createDataFrame(
        [
            (None, "p.py", "0" * 40, "py", "x", "ADD", 9_000_001),
            ("org/r", None, "0" * 40, "py", "y", "UPDATE", 9_000_002),
            ("", "q.py", "0" * 40, "py", "z", "ADD", 9_000_003),  # ''→NULL
        ],
        "repo string, path string, commit string, lang string, content string, op string, event_seq long",
    )
    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    pipe.quarantine_dir = str(tmp_path / "dead")
    table.init(canonicalize_snapshot(base))
    pipe.apply_epoch(good.unionByName(bad), 0)
    assert table.read().filter(F.col("repo").isNull() | F.col("path").isNull()).count() == 0
    dead = spark.read.parquet(str(tmp_path / "dead" / "epoch=0"))
    assert dead.count() == 3
    assert {r["event_seq"] for r in dead.collect()} == {9_000_001, 9_000_002, 9_000_003}


def test_concurrent_writer_lock(spark, tmp_path):
    import os

    from bcdc2bcdc_spark.plans.checkpoint import ConcurrentWriterError

    table, cp, pipe = _mk_pipeline(spark, tmp_path)
    table.init(canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=1)))
    ev = gen_events(spark, n_events=100, n_keys=50, n_epochs=1, seed=1)

    # a LIVE foreign pid holds the lock → run() must refuse
    os.makedirs(cp.path, exist_ok=True)
    with open(cp.lock_path, "w") as fh:
        fh.write("1")  # pid 1 (init) is alive and not us
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriterError):
        pipe.run(ev)
    # a DEAD pid is stale → stolen, run proceeds, lock released after
    with open(cp.lock_path, "w") as fh:
        fh.write("999999999")
    assert list(pipe.run(ev).values()) == [True]
    assert not os.path.exists(cp.lock_path)


def test_iceberg_upsert_issues_merge_sql(spark, monkeypatch):
    """IcebergLakeTable.upsert registers the change view and issues the
    branch-complete MERGE INTO (captured; no Iceberg jar in sandbox)."""
    from bcdc2bcdc_spark.sources.lake import IcebergLakeTable

    issued = []
    monkeypatch.setattr(spark, "sql", lambda q: issued.append(q))
    t = IcebergLakeTable(spark, "cat.db.repos")
    ch = gen_events(spark, n_events=10, n_keys=5, seed=1).drop("epoch")
    t.upsert(ch)
    assert len(issued) == 1
    sql = issued[0]
    assert "MERGE INTO cat.db.repos t USING _cdc_changes s" in sql
    assert "WHEN MATCHED AND s.op = 'DELETE' THEN DELETE" in sql
    assert "WHEN NOT MATCHED AND s.op <> 'DELETE' THEN INSERT" in sql
    # the registered view is queryable with the change rows
    assert spark.table("_cdc_changes").count() == 10


def test_crashed_commit_leaves_table_intact_and_is_swept(spark, tmp_path):
    """ATOMIC-commit property: a generation staged but never committed
    (crash between the data write and the manifest swap) is invisible to
    readers and gets garbage-collected by the next successful commit."""
    import json

    base = canonicalize_snapshot(gen_repos(spark, n_keys=120, seed=21))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)
    before = sorted(map(tuple, table.read().collect()))
    meta_before = json.dumps(table._meta(), sort_keys=True)

    # simulate the crash: stage a generation exactly like upsert would,
    # then DIE before the manifest swap
    from bcdc2bcdc_spark.functions.digest import with_row_digest
    from bcdc2bcdc_spark.sources.lake import _bucket_expr

    doomed = with_row_digest(
        canonicalize_snapshot(gen_repos(spark, n_keys=10, seed=99)),
        ["lang", "content"], "_digest",
    ).withColumn("_bucket", _bucket_expr(table.key_cols, table.n_buckets))
    orphan_gen = table._new_gen()
    table._write_generation(
        table._given_plan(doomed, table._meta(), orphan_gen), orphan_gen, table._meta()
    )
    orphan_dir = os.path.join(table.data_path, orphan_gen)
    assert os.path.isdir(orphan_dir)

    # table state is untouched: same rows, same manifest
    assert sorted(map(tuple, table.read().collect())) == before
    assert json.dumps(table._meta(), sort_keys=True) == meta_before

    # a FRESH unreferenced dir could be a concurrent writer's in-flight
    # staging: the next commit leaves it alone (grace period) ...
    one = table.read().limit(1).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("post-crash")
    ).withColumn("event_seq", F.lit(7).cast("long"))
    table.upsert(one)
    assert os.path.isdir(orphan_dir), "in-flight-age staging must survive sweep"
    assert table.read().filter(F.col("content") == "post-crash").count() == 1

    # ... and sweeps it once aged past the grace window (true crash orphan)
    _backdate_tree(orphan_dir, 2 * table.staging_grace_s)
    two = table.read().limit(1).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("post-crash-2")
    ).withColumn("event_seq", F.lit(8).cast("long"))
    table.upsert(two)
    assert not os.path.isdir(orphan_dir), "aged orphan generation not swept"


def test_reader_snapshot_survives_one_commit(spark, tmp_path):
    """Snapshot retention: a reader plan pinned to the manifest BEFORE an
    upsert still materializes afterwards (retain_generations=2 keeps the
    retired generation's files), and shows the pre-commit rows — the
    Iceberg time-travel-window analog."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=80, seed=33))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)
    pinned = table.read()  # plan resolves the CURRENT manifest now
    change = table.read().limit(5).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("v2")
    ).withColumn("event_seq", F.lit(1).cast("long"))
    table.upsert(change)  # retires the init generation (not yet swept)
    assert pinned.filter(F.col("content") == "v2").count() == 0  # old snapshot
    assert table.read().filter(F.col("content") == "v2").count() == 5  # new


def test_time_travel_read_version_and_diff(spark, tmp_path):
    """Manifest history gives Iceberg-style time travel: read the table AS
    OF an earlier commit while its generations survive retention, diff two
    versions with snapshot_diff, and get a clear error once expired."""
    import pytest as _pytest

    from bcdc2bcdc_spark.operators.diff import snapshot_diff

    base = canonicalize_snapshot(gen_repos(spark, n_keys=60, seed=44))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)
    assert table.commit_seq() == 1

    def upd(tag, seq):
        # touches EVERY key → every bucket → prior generation fully retires
        return table.read().withColumn("op", F.lit("UPDATE")).withColumn(
            "content", F.lit(tag)
        ).withColumn("event_seq", F.lit(seq).cast("long"))

    table.upsert(upd("v2", 1))
    table.upsert(upd("v3", 2))
    assert table.versions() == [1, 2, 3] and table.commit_seq() == 3

    # as-of reads: version 2 is all-v2, version 3 all-v3
    v2 = table.read_version(2)
    assert v2.filter(F.col("content") == "v2").count() == 60
    assert v2.filter(F.col("content") == "v3").count() == 0
    # version diff = the change set between commits
    delta = snapshot_diff(table.read_version(3), table.read_version(2))
    assert delta.filter(F.col("op") == "UPDATE").count() == 60

    # push version 1's generation past retention (retain_generations=2):
    # fully retired at commit 2 → expired once commit_seq reaches 4.
    # Expiry from the RETIRED set is deterministic (commit-count, no
    # staging grace) — the expiring commit itself sweeps the generation.
    table.upsert(upd("v4", 3))
    table.upsert(upd("v5", 4))
    with _pytest.raises(ValueError, match="expired generations"):
        table.read_version(1).count()


def test_rebucket_grows_table_and_persists_count(spark, tmp_path):
    """rebucket() rewrites the table into a new bucket count atomically
    (partition-spec evolution analog); content is unchanged, the persisted
    count becomes authoritative, and a table object opened with a STALE
    constructor n_buckets still buckets upserts correctly."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=120, seed=77))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)
    table.rebucket(16)
    assert table._n_buckets() == 16
    assert datasets_equal(table.read(), base)
    # on-disk layout really uses the new bucket ids (some id ≥ 4 appears)
    live = table._meta()["buckets"]
    assert any(int(b) >= 4 for b in live)
    assert len(live) <= 16

    # a STALE handle (constructor says 4) must resolve the persisted 16:
    stale = HashBucketParquetTable(spark, table.path, n_buckets=4)
    one = stale.read().limit(1).withColumn("op", F.lit("UPDATE")).withColumn(
        "content", F.lit("rebucketed!")
    ).withColumn("event_seq", F.lit(1).cast("long"))
    stale.upsert(one)
    assert stale.read().filter(F.col("content") == "rebucketed!").count() == 1
    # no row lost/duplicated by a mis-bucketed merge: key set identical
    assert stale.read().count() == base.count()
    assert stale.read().select("repo", "path").distinct().count() == base.count()

    # no-op and validation paths
    table.rebucket(16)  # same count → no commit
    assert table._n_buckets() == 16
    import pytest as _pytest

    with _pytest.raises(ValueError, match="≥ 1"):
        table.rebucket(0)


def test_commit_rejects_staged_buckets_outside_touched(spark, tmp_path):
    """A staged generation holding bucket dirs the caller did not declare
    touched ABORTS the commit (stale touched list / bucket scheme changed
    under the writer) — the manifest must never silently drop rows that
    were staged but unreferenced."""
    from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError

    base = canonicalize_snapshot(gen_repos(spark, n_keys=120, seed=5))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)
    before = table._meta()
    with pytest.raises(ConcurrentWriteError, match="outside the declared"):
        table._commit_generation(table._read_raw(), [0], before)
    assert table._meta() == before  # manifest untouched by the abort
    assert datasets_equal(table.read(), base)


def test_maintenance_ops_lose_cleanly_to_concurrent_upsert(spark, tmp_path):
    """compact() and redigest() carry the same optimistic-concurrency
    guard as upsert: a data commit landing while maintenance stages
    ABORTS the maintenance rewrite — the upsert's rows can never be
    clobbered by a maintenance generation built from a stale read."""
    from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError

    base = canonicalize_snapshot(gen_repos(spark, n_keys=150, seed=21))
    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(base)

    def _change(content, seq):
        return (
            table.read()
            .limit(1)
            .withColumn("op", F.lit("UPDATE"))
            .withColumn("content", F.lit(content))
            .withColumn("event_seq", F.lit(seq).cast("long"))
        )

    # several upserts → crowded buckets so compact() has work
    for i in range(3):
        table.upsert(_change(f"v{i}", i + 1))

    other = HashBucketParquetTable(spark, table.path, n_buckets=4)
    orig_stage = table._write_generation

    def _interleaved_stage(*args):
        out = orig_stage(*args)
        other.upsert(_change("concurrent-win", 50))
        return out

    table._write_generation = _interleaved_stage
    try:
        with pytest.raises(ConcurrentWriteError):
            table.compact(max_files_per_bucket=0)
    finally:
        table._write_generation = orig_stage
    assert "concurrent-win" in {r["content"] for r in table.read().collect()}

    # redigest: force a digest_cols gap, then race it the same way
    meta = table._meta()
    meta["digest_cols"] = ["content"]  # stale vs compare set
    table._write_meta(meta)
    table._write_generation = _interleaved_stage
    try:
        with pytest.raises(ConcurrentWriteError):
            table.redigest()
    finally:
        table._write_generation = orig_stage
    assert "concurrent-win" in {r["content"] for r in table.read().collect()}


def test_table_stats_metadata_only(spark, tmp_path):
    """table_stats: one row per bucket, byte/file counts from listings,
    delta depth matches the manifest, and reading stats touches no data."""
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos

    t = HashBucketParquetTable(
        spark, str(tmp_path / "stats"), n_buckets=4, write_mode="mor"
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=200)))
    stats = {r["bucket"]: r for r in t.table_stats().collect()}
    assert set(stats) == set(range(4))
    assert all(r["base_files"] >= 1 and r["base_bytes"] > 0 for r in stats.values())
    assert all(r["n_deltas"] == 0 for r in stats.values())

    # two MOR upserts to one key -> that key's bucket carries 2 deltas
    row = t.read().orderBy("repo", "path").limit(1).collect()[0]
    for i in range(2):
        t.upsert(
            spark.createDataFrame(
                [(row["repo"], row["path"], f"c{i}", row["lang"], f"v{i}", "UPDATE")],
                "repo string, path string, commit string, lang string, content string, op string",
            )
        )
    stats2 = {r["bucket"]: r for r in t.table_stats().collect()}
    depths = sorted(r["n_deltas"] for r in stats2.values())
    assert depths.count(2) == 1 and depths.count(0) == 3
    hot = next(r for r in stats2.values() if r["n_deltas"] == 2)
    assert hot["delta_files"] >= 2 and hot["delta_bytes"] > 0
    # the n_deltas column is exactly compact_deltas' decision input
    assert t.compact_deltas(max_deltas=1) == [hot["bucket"]]
    after = {r["bucket"]: r for r in t.table_stats().collect()}
    assert after[hot["bucket"]]["n_deltas"] == 0


def test_interleaved_manifest_writes_never_tear(tmp_path, monkeypatch):
    """A manifest write that lands while another is inside ``json.dump``
    (the commit race window ``upsert`` documents) must neither fail the
    first writer nor leave a torn file: the later rename wins whole."""
    import json

    from bcdc2bcdc_spark.sources.fs import LocalFS

    fs = LocalFS()
    path = str(tmp_path / "_table.json")
    outer = {"a": 1}
    inner = {"a": 2, "pad": "x" * 4096}  # longer than the outer payload
    real_dump = json.dump
    nested = []

    def dump(obj, fh, *args, **kwargs):
        if not nested:
            nested.append(obj)
            fs.write_json_atomic(path, inner)  # lands mid-write
        return real_dump(obj, fh, *args, **kwargs)

    monkeypatch.setattr(json, "dump", dump)
    fs.write_json_atomic(path, outer)
    monkeypatch.undo()
    assert nested == [outer]
    assert fs.read_json(path) == outer
    assert os.listdir(tmp_path) == ["_table.json"]  # no staging file left
