"""Incremental join view: build parity vs a plain join, left-side and
right-side (fan-out) maintenance, inner-vs-left delete semantics, FK
moves, both-sides intervals, index-pruned probe, crash replay, and
validation."""

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.operators.joinview import IncrementalJoinView
from bcdc2bcdc_spark.schema import OP_ADD, OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.index import SecondaryIndex
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

VIEW_COMPARE = ("commit", "lang", "content", "family")


def _lchanges(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, op string"
    )


def _rchanges(spark, rows):
    return spark.createDataFrame(rows, "lang string, family string, op string")


@pytest.fixture
def tables(spark, tmp_path):
    left = HashBucketParquetTable(
        spark, str(tmp_path / "left"), n_buckets=8, retain_generations=8
    )
    left.init(canonicalize_snapshot(gen_repos(spark, n_keys=250)))
    right = HashBucketParquetTable(
        spark,
        str(tmp_path / "right"),
        key_cols=("lang",),
        compare_cols=("family",),
        n_buckets=4,
        retain_generations=8,
    )
    right.init(
        left.read()
        .select("lang")
        .where(F.col("lang").isNotNull())
        .distinct()
        .withColumn("family", F.concat(F.lit("fam-"), F.col("lang")))
    )
    return left, right


def _view(tables, tmp_path, how="inner", use_index=False):
    left, right = tables
    idx = None
    if use_index:
        idx = SecondaryIndex(
            left, str(tmp_path / "fkidx"), index_cols=("lang",), n_buckets=4
        )
        idx.build()
    v = IncrementalJoinView(
        left, right, str(tmp_path / "view"), on=("lang",), how=how,
        fk_index=idx, n_buckets=8,
    )
    v.build()
    return v


def _expected(tables, how):
    left, right = tables
    return left.read().join(right.read(), ["lang"], how)


def _assert_parity(v, tables, how):
    assert datasets_equal(
        v.read(), _expected(tables, how), compare_cols=VIEW_COMPARE
    )


@pytest.mark.parametrize("how,use_index", [("inner", False), ("inner", True), ("left", False)])
def test_build_and_refresh_parity(spark, tables, tmp_path, how, use_index):
    left, right = tables
    v = _view(tables, tmp_path, how=how, use_index=use_index)
    _assert_parity(v, tables, how)

    # left-side interval: add + payload update + FK move + delete
    rows = left.read().orderBy("repo", "path").limit(3).collect()
    moved, edited, gone = rows
    new_lang = next(
        r["lang"] for r in right.read().collect() if r["lang"] != moved["lang"]
    )
    left.upsert(
        _lchanges(
            spark,
            [
                ("zz", "new.py", "c", rows[0]["lang"], "fresh", OP_ADD),
                (moved["repo"], moved["path"], "c", new_lang, moved["content"], OP_UPDATE),
                (edited["repo"], edited["path"], "c", edited["lang"], "edited", OP_UPDATE),
                (gone["repo"], gone["path"], None, None, None, OP_DELETE),
            ],
        )
    )
    stats = v.refresh()
    assert stats["affected"] >= 4
    _assert_parity(v, tables, how)

    # right-side interval: dimension update fans out to every referencing
    # fact row; dimension delete drops (inner) / nulls (left) them
    fan_lang = left.read().groupBy("lang").count().orderBy(F.desc("count")).first()["lang"]
    n_fan = left.read().where(F.col("lang") == fan_lang).count()
    right.upsert(_rchanges(spark, [(fan_lang, "fam-CHANGED", OP_UPDATE)]))
    stats = v.refresh()
    assert stats["affected"] == n_fan
    _assert_parity(v, tables, how)
    assert (
        v.read().where(F.col("lang") == fan_lang)
        .where(F.col("family") == "fam-CHANGED").count()
        == (n_fan if how == "inner" else n_fan)
    )

    del_lang = next(
        r["lang"] for r in right.read().collect() if r["lang"] != fan_lang
    )
    right.upsert(_rchanges(spark, [(del_lang, None, OP_DELETE)]))
    v.refresh()
    _assert_parity(v, tables, how)
    if how == "inner":
        assert v.read().where(F.col("lang") == del_lang).count() == 0
    else:
        orphans = v.read().where(F.col("lang") == del_lang)
        assert orphans.count() > 0
        assert orphans.where(F.col("family").isNotNull()).count() == 0


def test_both_sides_one_interval(spark, tables, tmp_path):
    left, right = tables
    v = _view(tables, tmp_path)
    row = left.read().orderBy("repo", "path").limit(1).collect()[0]
    left.upsert(
        _lchanges(spark, [(row["repo"], row["path"], "c", row["lang"], "both", OP_UPDATE)])
    )
    right.upsert(_rchanges(spark, [(row["lang"], "fam-BOTH", OP_UPDATE)]))
    v.refresh()
    _assert_parity(v, tables, "inner")
    got = v.read().where(
        (F.col("repo") == row["repo"]) & (F.col("path") == row["path"])
    ).collect()
    assert len(got) == 1 and got[0]["content"] == "both" and got[0]["family"] == "fam-BOTH"


def test_refresh_noop(tables, tmp_path):
    v = _view(tables, tmp_path)
    before = v._table().commit_seq()
    assert v.refresh()["affected"] == 0
    assert v._table().commit_seq() == before


def test_crash_replay_idempotent(spark, tables, tmp_path):
    left, right = tables
    v = _view(tables, tmp_path)
    st0 = v._state()
    row = left.read().orderBy("repo", "path").limit(1).collect()[0]
    left.upsert(
        _lchanges(spark, [(row["repo"], row["path"], "c", row["lang"], "v2", OP_UPDATE)])
    )
    right.upsert(_rchanges(spark, [(row["lang"], "fam-R2", OP_UPDATE)]))
    v.refresh()
    # crash between the view commit and the state write: re-apply the interval
    v._write_state(int(st0["left_seq"]), int(st0["right_seq"]))
    v.refresh()
    _assert_parity(v, tables, "inner")


def test_right_feed_probe_keys_are_distinct(spark, tables, tmp_path):
    """The right-driven probe broadcasts the feed projected onto ``on``
    with no ``distinct``: that projection is duplicate-free because the
    feed has one row per changed right key and ``on`` == right.key_cols,
    even when one interval rewrites the same key in several commits."""
    left, right = tables
    v = _view(tables, tmp_path)
    langs = [
        r["lang"] for r in right.read().orderBy("lang").limit(3).collect()
    ]
    hot = langs[0]
    rfrom = right.commit_seq()
    right.upsert(_rchanges(spark, [(hot, "fam-A", OP_UPDATE), (langs[1], "fam-B", OP_UPDATE)]))
    right.upsert(_rchanges(spark, [(hot, "fam-C", OP_UPDATE), (langs[2], None, OP_DELETE)]))
    right.upsert(_rchanges(spark, [(hot, None, OP_DELETE)]))
    right.upsert(_rchanges(spark, [(hot, "fam-D", OP_ADD), (langs[2], "fam-E", OP_ADD)]))
    probe = right.read_changes(rfrom, right.commit_seq()).select(*v.on)
    assert probe.count() == probe.distinct().count() == 3
    v.refresh()
    _assert_parity(v, tables, "inner")


def test_validation(spark, tables, tmp_path):
    left, right = tables
    with pytest.raises(ValueError, match="right table's key"):
        IncrementalJoinView(left, right, str(tmp_path / "bad"), on=("repo",))
    with pytest.raises(ValueError, match="inner.*or.*left"):
        IncrementalJoinView(
            left, right, str(tmp_path / "bad2"), on=("lang",), how="outer"
        )
    idx = SecondaryIndex(
        left, str(tmp_path / "idx2"), index_cols=("content",), n_buckets=4
    )
    with pytest.raises(ValueError, match="fk_index covers"):
        IncrementalJoinView(
            left, right, str(tmp_path / "bad3"), on=("lang",), fk_index=idx
        )
