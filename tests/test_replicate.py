"""Lake→lake replication: incremental feed-driven sync converges to the
source (canonical payload equality; per-version follow() additionally
reproduces commit exactly), coalesced vs per-version sync agree,
crash-between-upsert-and-marker replays idempotently, and schema
evolution propagates."""

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events, canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_events, gen_repos
from bcdc2bcdc_spark.operators.lww import lww_dedup
from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
from bcdc2bcdc_spark.plans.replicate import TableReplicator
from bcdc2bcdc_spark.schema import REPOS_SCHEMA
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable
from tests.conftest import count_jobs


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture
def src_table(spark, tmp_path):
    """A source lake with 4 committed versions (empty init + 3 epochs)."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "src"), n_buckets=8, retain_generations=16
    )
    t.init(spark.createDataFrame([], REPOS_SCHEMA))
    ev = canonicalize_events(
        gen_events(spark, n_events=3000, n_keys=300, n_epochs=3, seed=17)
    )
    for e in range(3):
        t.upsert(lww_dedup(ev.filter(F.col("epoch") == e).drop("epoch")))
    return t


def _mk_replicator(spark, tmp_path, src, name):
    dst = HashBucketParquetTable(spark, str(tmp_path / name), n_buckets=8)
    dst.init(spark.createDataFrame([], REPOS_SCHEMA))
    return TableReplicator(
        src=src, dst=dst, checkpoints=CheckpointStore(str(tmp_path / f"{name}_ckpt"))
    )


def test_replication_converges_exactly(spark, tmp_path, src_table):
    from bcdc2bcdc_spark.operators.diff import datasets_equal

    rep = _mk_replicator(spark, tmp_path, src_table, "dst")
    res = rep.sync()  # one coalesced interval 1 → head
    assert res["to"] == src_table.commit_seq()
    # canonical convergence (the engine contract); commit is version
    # metadata and may lag on coalesced delete+re-add-identical netting
    assert datasets_equal(rep.dst.read(), src_table.read())
    payload = ["repo", "path", "lang", "content"]
    assert _rows(rep.dst.read().select(*payload)) == _rows(
        src_table.read().select(*payload)
    )
    # idempotent: nothing outstanding → no-op
    assert rep.sync()["changes"] == -1


def test_per_version_follow_equals_coalesced(spark, tmp_path, src_table):
    a = _mk_replicator(spark, tmp_path, src_table, "fine")
    b = _mk_replicator(spark, tmp_path, src_table, "coarse")
    steps = a.follow()
    assert len(steps) == 3  # one sync per src commit after init
    b.sync()
    # per-version replay is EXACT (commit included): each interval holds
    # a real per-commit change set, so no delete+re-add ever nets out
    assert _rows(a.dst.read()) == _rows(src_table.read())
    payload = ["repo", "path", "lang", "content"]
    assert _rows(b.dst.read().select(*payload)) == _rows(
        src_table.read().select(*payload)
    )


def test_replication_cost_is_o_changes(spark, tmp_path, src_table):
    """After catch-up, a single-key src change replicates by reading ONE
    changed bucket — the feed prunes via the manifest diff."""
    rep = _mk_replicator(spark, tmp_path, src_table, "dst2")
    rep.sync()
    one = (
        src_table.read()
        .limit(1)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("content", F.lit("tiny-change"))
    )
    src_table.upsert(one)
    frm = rep.last_synced()
    assert len(src_table.changed_buckets(frm, src_table.commit_seq())) == 1
    res = rep.sync()
    assert res["changes"] == 1
    payload = ["repo", "path", "lang", "content"]
    assert _rows(rep.dst.read().select(*payload)) == _rows(
        src_table.read().select(*payload)
    )


def test_crash_between_upsert_and_marker_replays_safely(spark, tmp_path, src_table):
    rep = _mk_replicator(spark, tmp_path, src_table, "dst3")
    rep.sync(to_seq=2)
    # simulate crash: apply the 2→4 interval but die before the marker
    feed = src_table.read_changes(2, 4)
    rep.dst.upsert(feed)
    assert rep.last_synced() == 2  # marker never written
    # recovery: sync replays the same interval — idempotent, converges
    rep.sync(to_seq=4)
    payload = ["repo", "path", "lang", "content"]
    assert _rows(rep.dst.read().select(*payload)) == _rows(
        src_table.read_version(4).select(*payload)
    )


def test_replication_propagates_schema_evolution(spark, tmp_path, src_table):
    rep = _mk_replicator(spark, tmp_path, src_table, "dst4")
    rep.sync()
    wide = (
        src_table.read()
        .limit(2)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("stars", F.lit(9).cast("int"))
    )
    src_table.upsert(wide)
    rep.sync()
    out = rep.dst.read()
    assert "stars" in out.columns
    assert out.filter(F.col("stars") == 9).count() == 2
    payload = ["repo", "path", "lang", "content", "stars"]
    assert _rows(out.select(*payload)) == _rows(src_table.read().select(*payload))


# ---------------------------------------------------------------------------
# job budget and observed change count
# ---------------------------------------------------------------------------

_PAYLOAD = ["repo", "path", "lang", "content"]


def _one_change(src, content):
    src.upsert(
        src.read()
        .orderBy("repo", "path")
        .limit(3)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("content", F.lit(content))
    )


def _synced(rep):
    """sync() result checked against the feed's own row count."""
    frm, head = rep.last_synced(), rep.src.commit_seq()
    want = rep.src.read_changes(frm, head).count()
    res = rep.sync()
    assert res["to"] == head
    assert res["changes"] == want
    return res


def test_aligned_sync_launches_no_job_of_its_own(spark, tmp_path, src_table, monkeypatch):
    """On a bucket-aligned CoW dst every job of a sync is dst's upsert: the
    touched buckets come from the src manifest diff, and the change count
    is observed on the staging write."""
    sc = spark.sparkContext
    rep = _mk_replicator(spark, tmp_path, src_table, "budget")
    seen = {"upsert_jobs": 0}
    orig = rep.dst.upsert

    def upsert(feed, **kw):
        seen["touched"] = kw.get("touched")
        jobs, out = count_jobs(sc, lambda: orig(feed, **kw))
        seen["upsert_jobs"] += jobs
        return out

    monkeypatch.setattr(rep.dst, "upsert", upsert)
    want = src_table.read_changes(1, src_table.commit_seq()).count()
    sync_jobs, res = count_jobs(sc, rep.sync)
    assert sync_jobs == 0
    assert seen["upsert_jobs"]
    assert seen["touched"] == src_table.changed_buckets(1, src_table.commit_seq())
    assert res["changes"] == want > 0
    assert _rows(rep.dst.read().select(*_PAYLOAD)) == _rows(
        src_table.read().select(*_PAYLOAD)
    )


def test_sync_counts_equal_feed_rows_cow_and_mor(spark, tmp_path, src_table):
    cow = _mk_replicator(spark, tmp_path, src_table, "cow")
    mor = _mk_replicator(spark, tmp_path, src_table, "mor")
    mor.dst.set_write_mode("mor")
    for rep in (cow, mor):
        _synced(rep)
    _one_change(src_table, "second")
    for rep in (cow, mor):
        _synced(rep)
        assert _rows(rep.dst.read().select(*_PAYLOAD)) == _rows(
            src_table.read().select(*_PAYLOAD)
        )


def test_sync_counts_no_change_interval(spark, tmp_path, src_table):
    """A commit that changes no bucket (a metadata flip) syncs with zero
    changes and no dst commit; a commit that rewrites a bucket unchanged
    syncs zero changes too."""
    rep = _mk_replicator(spark, tmp_path, src_table, "quiet")
    _synced(rep)
    dst_seq = rep.dst.commit_seq()
    src_table.set_stats_cols(["lang"])
    assert src_table.changed_buckets(rep.last_synced(), src_table.commit_seq()) == []
    assert _synced(rep)["changes"] == 0
    assert rep.dst.commit_seq() == dst_seq
    src_table.upsert(
        src_table.read().orderBy("repo", "path").limit(2).withColumn("op", F.lit("UPDATE"))
    )
    assert src_table.changed_buckets(rep.last_synced(), src_table.commit_seq())
    assert _synced(rep)["changes"] == 0
    assert _rows(rep.dst.read().select(*_PAYLOAD)) == _rows(
        src_table.read().select(*_PAYLOAD)
    )


def test_sync_counts_on_bucket_scheme_mismatch(spark, tmp_path, src_table):
    """src rebucketed away from dst's n_buckets: the src bucket ids are not
    dst's, so the upsert discovers the touched set itself."""
    rep = _mk_replicator(spark, tmp_path, src_table, "rebucketed")
    _synced(rep)
    src_table.rebucket(4)
    # the interval spans the rebucket: no manifest diff is possible
    assert src_table.changed_buckets(rep.last_synced(), src_table.commit_seq()) is None
    _synced(rep)
    _one_change(src_table, "after-rebucket")
    assert src_table.bucket_scheme() != rep.dst.bucket_scheme()
    assert _synced(rep)["changes"] == 3
    assert _rows(rep.dst.read().select(*_PAYLOAD)) == _rows(
        src_table.read().select(*_PAYLOAD)
    )


def test_sync_counts_through_key_rewriting_transform(spark, tmp_path, src_table):
    """A transform may rewrite the columns a bucket hashes (here: the repo
    key), so src bucket ids do not carry over and the upsert discovers the
    touched set itself."""

    def mirror(feed):
        return feed.withColumn("repo", F.concat(F.col("repo"), F.lit("-mirror")))

    dst = HashBucketParquetTable(spark, str(tmp_path / "mirror"), n_buckets=8)
    dst.init(spark.createDataFrame([], REPOS_SCHEMA))
    rep = TableReplicator(
        src=src_table,
        dst=dst,
        checkpoints=CheckpointStore(str(tmp_path / "mirror_ckpt")),
        transform=mirror,
    )
    _synced(rep)
    _one_change(src_table, "mirrored")
    assert _synced(rep)["changes"] == 3
    assert _rows(dst.read().select(*_PAYLOAD)) == _rows(
        mirror(src_table.read()).select(*_PAYLOAD)
    )


# ---------------------------------------------------------------------------
# multi-table feed replication (dependency-ordered, FK-remapped)
# ---------------------------------------------------------------------------

_EV = "repo string, path string, commit string, lang string, content string, op string, event_seq long"


def _mk_lake(spark, tmp_path, name, n_buckets=4, create=True):
    t = HashBucketParquetTable(
        spark, str(tmp_path / name), n_buckets=n_buckets, retain_generations=16
    )
    if create:
        t.init(spark.createDataFrame([], REPOS_SCHEMA))
    return t


def _multi_fixture(spark, tmp_path, create=True):
    """src parent (orgs: path=org-id, content=org-name) + src child (pkgs:
    content holds the parent's path → remapped to the parent's name)."""
    from bcdc2bcdc_spark.plans.multi import FKRemap
    from bcdc2bcdc_spark.plans.replicate import MultiTableReplicator, ReplicatedEntity

    src_orgs = _mk_lake(spark, tmp_path, "src_orgs", create=create)
    src_pkgs = _mk_lake(spark, tmp_path, "src_pkgs", create=create)
    dst_orgs = _mk_lake(spark, tmp_path, "dst_orgs", create=create)
    dst_pkgs = _mk_lake(spark, tmp_path, "dst_pkgs", create=create)
    # child declared FIRST: order must still be orgs → pkgs
    rep = MultiTableReplicator(
        entities=[
            ReplicatedEntity(
                name="pkgs", src=src_pkgs, dst=dst_pkgs,
                fk_remaps=(FKRemap(column="content", parent="orgs",
                                   map_from="path", map_to="content"),),
            ),
            ReplicatedEntity(name="orgs", src=src_orgs, dst=dst_orgs),
        ],
        checkpoint_root=str(tmp_path / "mt_ckpt"),
    )
    return src_orgs, src_pkgs, dst_orgs, dst_pkgs, rep


def test_multi_replication_fk_order_and_convergence(spark, tmp_path):
    src_orgs, src_pkgs, dst_orgs, dst_pkgs, rep = _multi_fixture(spark, tmp_path)
    assert rep.sync_order == ["orgs", "pkgs"]

    src_orgs.upsert(spark.createDataFrame(
        [("org-repo", "org1", "c1", "org", "NAME_ONE", "ADD", 1),
         ("org-repo", "org2", "c1", "org", "NAME_TWO", "ADD", 2)], _EV))
    src_pkgs.upsert(spark.createDataFrame(
        [("pkg-repo", "pkgA", "c1", "py", "org1", "ADD", 10),
         # org3 does not exist yet anywhere — dangling, passes through
         ("pkg-repo", "pkgB", "c1", "py", "org3", "ADD", 11)], _EV))
    stats = rep.sync_all()
    assert stats["orgs"]["changes"] == 2 and stats["pkgs"]["changes"] == 2
    got = {r["path"]: r["content"] for r in dst_pkgs.read().collect()}
    # pkgA remapped through the freshly-synced dst parent (same pass);
    # pkgB dangling → untranslated, visible downstream
    assert got == {"pkgA": "NAME_ONE", "pkgB": "org3"}

    # second pass: new parent org3, a new child referencing it in the
    # SAME pass, a child UPDATE to a different parent, and a child DELETE
    # (NB an UPDATE whose src content is unchanged would be no-op-
    # suppressed by the feed — src content must actually change to flow)
    src_orgs.upsert(spark.createDataFrame(
        [("org-repo", "org3", "c2", "org", "NAME_THREE", "ADD", 3)], _EV))
    src_pkgs.upsert(spark.createDataFrame(
        [("pkg-repo", "pkgC", "c2", "py", "org3", "ADD", 12),
         ("pkg-repo", "pkgB", "c2", "py", "org1", "UPDATE", 13),
         ("pkg-repo", "pkgA", "c2", "py", None, "DELETE", 14)], _EV))
    stats = rep.sync_all()
    assert stats["orgs"]["changes"] == 1 and stats["pkgs"]["changes"] == 3
    got = {r["path"]: r["content"] for r in dst_pkgs.read().collect()}
    assert got == {"pkgC": "NAME_THREE", "pkgB": "NAME_ONE"}
    # idle pass is a per-entity no-op
    assert all(s["changes"] == -1 for s in rep.sync_all().values())


def test_multi_replication_crash_mid_pass_resumes(spark, tmp_path):
    """Parent committed at head, crash before the child applies: a fresh
    replicator's next pass replays ONLY the child's outstanding interval
    and converges — the reference's resume-after-partial-run contract."""
    from bcdc2bcdc_spark.plans.multi import FKRemap
    from bcdc2bcdc_spark.plans.replicate import MultiTableReplicator, ReplicatedEntity

    src_orgs, src_pkgs, dst_orgs, dst_pkgs, rep = _multi_fixture(spark, tmp_path)
    src_orgs.upsert(spark.createDataFrame(
        [("org-repo", "org1", "c1", "org", "NAME_ONE", "ADD", 1)], _EV))
    src_pkgs.upsert(spark.createDataFrame(
        [("pkg-repo", "pkgA", "c1", "py", "org1", "ADD", 10)], _EV))

    # crash: child upsert raises after the parent synced
    orig_upsert = dst_pkgs.upsert
    def boom(*a, **k):
        raise RuntimeError("simulated crash")
    dst_pkgs.upsert = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        rep.sync_all()
    dst_pkgs.upsert = orig_upsert
    assert dst_orgs.read().count() == 1 and dst_pkgs.read().count() == 0

    # a FRESH replicator (new process) resumes from the per-entity markers
    _, _, _, dst_pkgs, rep2 = _multi_fixture(spark, tmp_path, create=False)
    stats = rep2.sync_all()
    assert stats["orgs"]["changes"] == -1          # parent already at head
    assert stats["pkgs"]["changes"] == 1           # child replays its interval
    got = {r["path"]: r["content"] for r in dst_pkgs.read().collect()}
    assert got == {"pkgA": "NAME_ONE"}


def test_multi_replication_cycle_rejected(spark, tmp_path):
    from bcdc2bcdc_spark.plans.multi import DependencyCycleError, FKRemap
    from bcdc2bcdc_spark.plans.replicate import MultiTableReplicator, ReplicatedEntity

    a = _mk_lake(spark, tmp_path, "a")
    b = _mk_lake(spark, tmp_path, "b")
    with pytest.raises(DependencyCycleError):
        MultiTableReplicator(
            entities=[
                ReplicatedEntity("a", a, a, (FKRemap("content", "b", "path", "content"),)),
                ReplicatedEntity("b", b, b, (FKRemap("content", "a", "path", "content"),)),
            ],
            checkpoint_root=str(tmp_path / "cyc"),
        )
