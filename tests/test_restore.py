"""Version rollback (restore): metadata-only data-state rollback as a NEW
commit — exact state equality with the target version, inverse-feed
visibility for downstream consumers, intact history, generation
resurrection, and both write modes."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.operators.diff import datasets_equal, snapshot_diff
from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.lake import ConcurrentWriteError, HashBucketParquetTable


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, op string"
    )


@pytest.fixture(params=["cow", "mor"])
def table(spark, tmp_path, request):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "t"),
        n_buckets=4,
        write_mode=request.param,
        retain_generations=16,
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=120)))  # seq 1
    rows = t.read().orderBy("repo", "path").limit(2).collect()
    t.upsert(
        _changes(
            spark,
            [
                ("zz", "new.py", "c2", "go", "v2", OP_ADD),
                (rows[0]["repo"], rows[0]["path"], "c2", rows[0]["lang"], "edited", OP_UPDATE),
            ],
        )
    )  # seq 2
    t.upsert(
        _changes(spark, [(rows[1]["repo"], rows[1]["path"], None, None, None, OP_DELETE)])
    )  # seq 3
    return t


def test_restore_rolls_back_exactly(spark, table):
    v1 = table.read_version(1).collect()
    got = table.restore(1)
    assert got == 4 == table.commit_seq()
    assert datasets_equal(
        table.read(), spark.createDataFrame(v1, table.read().schema)
    )


def test_restore_is_metadata_only_and_keeps_history(table):
    gens_before = set(glob.glob(os.path.join(table.data_path, "gen-*")))
    v2 = table.read_version(2).collect()
    table.restore(1)
    # zero data written: no new generation dirs
    assert set(glob.glob(os.path.join(table.data_path, "gen-*"))) == gens_before
    # the undone versions remain time-travelable
    assert sorted(table.versions()) == [1, 2, 3, 4]
    assert {tuple(r) for r in table.read_version(2).collect()} == {
        tuple(r) for r in v2
    }


def test_restore_feed_is_the_inverse_delta(spark, table):
    """read_changes(pre, post) across the restore == the diff that
    transforms the pre-restore state into the target state — a feed
    consumer follows a rollback like any other commit."""
    # alias op -> chg: snapshot_diff (inside datasets_equal) reserves the
    # `op` column name for its own classification output
    want = snapshot_diff(
        table.read_version(1), table.read_version(3), digest_impl="jvm"
    ).select("repo", "path", F.col("op").alias("chg"))
    table.restore(1)
    feed = table.read_changes(3, 4).select("repo", "path", F.col("op").alias("chg"))
    assert datasets_equal(feed, want, key_cols=("repo", "path"), compare_cols=("chg",))


def test_restore_noop_and_forward_rejected(table):
    seq = table.commit_seq()
    assert table.restore(seq) == seq  # no-op: no commit
    assert table.commit_seq() == seq
    with pytest.raises(ValueError, match="table is at commit"):
        table.restore(seq + 5)


def test_restore_then_write_again(spark, table):
    """The restored state is a normal base for further commits."""
    table.restore(2)
    table.upsert(_changes(spark, [("aa", "after.py", "c9", "rs", "x", OP_ADD)]))
    assert table.commit_seq() == 5
    cur = table.read()
    assert cur.where("path = 'after.py'").count() == 1
    # seq-3's delete was undone by the restore; the deleted key is back
    assert datasets_equal(
        cur.where("path <> 'after.py'"), table.read_version(2)
    )


def test_restore_resurrects_retired_generations(spark, tmp_path):
    """With a tight retention window, a generation retired by later
    commits is re-referenced by the restore and must survive the NEXT
    commits' GC as live state."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "r"), n_buckets=2, retain_generations=4
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=40)))  # seq 1
    row = t.read().limit(1).collect()[0]
    for i in range(2):  # seqs 2, 3 rewrite the row's bucket
        t.upsert(
            _changes(
                spark,
                [(row["repo"], row["path"], f"c{i}", row["lang"], f"v{i}", OP_UPDATE)],
            )
        )
    v1 = t.read_version(1).collect()
    t.restore(1)  # seq 4: re-references the seq-1 generation
    # further commits must NOT GC the resurrected generation
    t.upsert(_changes(spark, [("nn", "n.py", "c", "go", "x", OP_ADD)]))  # seq 5
    t.upsert(_changes(spark, [("nn", "n2.py", "c", "go", "x", OP_ADD)]))  # seq 6
    got = t.read().where("path NOT IN ('n.py', 'n2.py')")
    assert datasets_equal(got, spark.createDataFrame(v1, got.schema))


def test_restore_write_guard(spark, tmp_path):
    t = HashBucketParquetTable(spark, str(tmp_path / "p"), n_buckets=2)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=10)))
    guarded = HashBucketParquetTable(
        spark, str(tmp_path / "p"), n_buckets=2, protected=True
    )
    from bcdc2bcdc_spark.sources.lake import ProtectedTableError

    with pytest.raises(ProtectedTableError):
        guarded.restore(1)


def test_restore_rolls_back_schema_evolution(spark, tmp_path):
    """Schema (and digest_cols) ride the restore: rolling back past an
    auto-evolve drops the evolved column, keeps stored digests coherent
    (no-op suppression still works), and a later upsert re-evolves."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "e"), n_buckets=2, retain_generations=8
    )
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=30)))  # seq 1
    evolved = spark.createDataFrame(
        [("zz", "s.py", "c", "go", "x", 5, "ADD")],
        "repo string, path string, commit string, lang string, content string,"
        " stars int, op string",
    )
    t.upsert(evolved)  # seq 2: auto-evolves, stars joins the compare set
    assert "stars" in [f.name for f in t.data_schema().fields]

    t.restore(1)  # seq 3: schema back to pre-evolution
    assert "stars" not in [f.name for f in t.data_schema().fields]
    assert "stars" not in t.read().columns

    # digests stayed coherent with the restored digest_cols: replaying
    # identical payload registers zero feed changes (no-op suppression)
    row = t.read().orderBy("repo", "path").limit(1).collect()[0]
    seq = t.commit_seq()
    t.upsert(
        _changes(
            spark,
            [(row["repo"], row["path"], "cX", row["lang"], row["content"], OP_UPDATE)],
        )
    )
    assert t.read_changes(seq, t.commit_seq()).count() == 0

    t.upsert(evolved)  # re-evolves cleanly after the rollback
    assert "stars" in t.read().columns
    assert t.read().where("path = 's.py'").count() == 1


@pytest.mark.parametrize("query", ["q_restore_rollback", "q_join_view_incremental"])
def test_lifecycle_queries_touch_every_bucket_of_the_table(spark, monkeypatch, query):
    """The two lifecycle queries pass ``touched`` for a delta spanning the
    whole table; the superset must follow the table's bucket count, not a
    literal, or rows of buckets outside it are staged outside the declared
    set and the commit aborts."""
    from bcdc2bcdc_spark import driver_queries
    from bcdc2bcdc_spark.sources import lake
    from tests.test_dataops import SF as sf

    run = getattr(driver_queries, query)
    want = sorted(map(tuple, run(spark, sf).collect()))

    def wider(*args, **kwargs):
        kwargs["n_buckets"] = 2 * kwargs.get("n_buckets", 16)
        return HashBucketParquetTable(*args, **kwargs)

    monkeypatch.setattr(lake, "HashBucketParquetTable", wider)
    assert sorted(map(tuple, run(spark, sf).collect())) == want
