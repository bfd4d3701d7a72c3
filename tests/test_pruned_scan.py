"""Predicate-pruned scans (read_where / prune_buckets): exact hash
pruning on bucket-column equality/IN, conservative per-generation min/max
bounds pruning on declared stats columns, and the invariant that pruning
is NEVER load-bearing — every result must equal the unpruned
read().filter() over the same predicate, in both write modes.

The reference resolves every predicate by filtering complete in-memory
dumps (/root/reference/bcdc2bcdc/CKANData.py:1010-1050); here the driver
answers "which directories can hold matching rows" from manifest metadata
before Spark plans the scan."""

import pytest
from pyspark.sql import functions as F, types as T

from bcdc2bcdc_spark.operators.diff import datasets_equal
from bcdc2bcdc_spark.schema import OP_DELETE, OP_UPDATE
from bcdc2bcdc_spark.sources.lake import (
    HashBucketParquetTable,
    compile_predicates,
)
from tests.conftest import count_jobs

N_BUCKETS = 8


def _clustered_df(spark, n_repos=8, paths_per_repo=40):
    """lang is a FUNCTION of repo: with bucket_cols=("repo",) each bucket
    holds few langs, so min/max bounds on lang are selective — the honest
    case where bounds pruning earns its keep (clustered, not hash-mixed)."""
    rows = spark.range(n_repos * paths_per_repo).select(
        F.concat(F.lit("r"), (F.col("id") % n_repos)).alias("repo"),
        F.concat(F.lit("p"), (F.col("id") / n_repos).cast("int")).alias("path"),
        F.concat(F.lit("c"), F.col("id")).alias("commit"),
        F.concat(F.lit("lang"), (F.col("id") % n_repos)).alias("lang"),
        F.concat(F.lit("body-"), F.col("id")).alias("content"),
    )
    return rows


@pytest.fixture(params=["cow", "mor"])
def table(spark, tmp_path, request):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "t"),
        n_buckets=N_BUCKETS,
        bucket_cols=("repo",),
        write_mode=request.param,
        stats_cols=("lang",),
        retain_generations=8,
    )
    t.init(_clustered_df(spark))
    return t


def _assert_pruned_equals_full(table, preds):
    """The contract: read_where == unpruned filter, bit-for-bit."""
    full = table.read().filter(compile_predicates(preds))
    assert datasets_equal(table.read_where(preds), full)


def test_stats_persisted_per_generation_bucket(table):
    meta = table._meta()
    assert meta["stats_cols"] == ["lang"]
    stats = meta["stats"]
    assert len(stats) == 1  # one init generation
    (gen_stats,) = stats.values()
    # every referenced bucket carries lang bounds with sane ordering
    assert set(gen_stats) == set(meta["buckets"])
    for entry in gen_stats.values():
        e = entry["lang"]
        assert e["min"] <= e["max"] and e["nonnull"] > 0


def test_hash_pruning_exact_on_bucket_col(spark, table):
    # the bucket r3 hashes to, computed independently through a literal row
    expected = (
        spark.createDataFrame([("r3",)], "repo string")
        .select(F.pmod(F.xxhash64("repo"), F.lit(N_BUCKETS)).cast("int").alias("b"))
        .collect()[0]["b"]
    )
    pruned = table.prune_buckets([("repo", "=", "r3")])
    assert pruned == [expected]
    _assert_pruned_equals_full(table, [("repo", "=", "r3")])
    # IN over two repos: union of their buckets, nothing else
    pruned_in = table.prune_buckets([("repo", "in", ["r3", "r5"])])
    assert expected in pruned_in and len(pruned_in) <= 2
    _assert_pruned_equals_full(table, [("repo", "in", ["r3", "r5"])])


def _one_col_meta(name, dtype):
    """A manifest's hashing fields for a table bucketed by one column."""
    schema = T.StructType([T.StructField(name, dtype, True)])
    return {"schema": schema.jsonValue(), "bucket_cols": [name], "n_buckets": N_BUCKETS}


def test_hash_pruning_runs_one_job(spark, tmp_path):
    """The candidate hash is one Spark job (the literal frame's scan, with
    no ``distinct`` shuffle): pruning a predicate read on the bucket
    column launches exactly one. A candidate whose type does not match
    the column prunes as the row-backed literal frame reads it: an int on
    a string column hashes as its string, and a float on a bigint column,
    which that frame refuses, does not prune."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "t"), n_buckets=N_BUCKETS, bucket_cols=("repo",)
    )
    t.init(_clustered_df(spark, paths_per_repo=4))
    sc = spark.sparkContext
    jobs, pruned = count_jobs(sc, lambda: t.prune_buckets([("repo", "in", ["r3", "r5"])]))
    assert jobs == 1 and 1 <= len(pruned) <= 2
    assert count_jobs(sc, lambda: t.read_where([("repo", "=", "r3")]))[0] == 1
    assert t.prune_buckets([("repo", "=", 7)]) == t.prune_buckets([("repo", "=", "7")])
    meta = _one_col_meta("n", T.LongType())
    assert t._hash_pruned_buckets([("n", "=", 7.0)], meta) is None
    assert len(t._hash_pruned_buckets([("n", "=", 7)], meta)) == 1


def test_hash_pruning_requires_all_bucket_cols_pinned(spark, tmp_path):
    t = HashBucketParquetTable(
        spark, str(tmp_path / "kk"), n_buckets=N_BUCKETS, retain_generations=8
    )  # default bucket_cols = full key (repo, path)
    t.init(_clustered_df(spark))
    # repo alone does not pin the (repo, path) hash — no pruning at all
    assert t.prune_buckets([("repo", "=", "r3")]) is None
    # both pinned → at most one bucket, correct rows
    preds = [("repo", "=", "r3"), ("path", "=", "p11")]
    assert len(t.prune_buckets(preds)) <= 1
    full = t.read().filter(compile_predicates(preds))
    assert datasets_equal(t.read_where(preds), full)


def test_bounds_pruning_on_clustered_column(table):
    # ground truth: per-bucket actual [min, max] of lang — with ONE
    # generation the manifest bounds are exact, so prune_buckets must keep
    # exactly the buckets whose range covers the value
    rng = {
        r["_b"]: (r["mn"], r["mx"])
        for r in table.read()
        .withColumn("_b", F.pmod(F.xxhash64("repo"), F.lit(N_BUCKETS)).cast("int"))
        .groupBy("_b")
        .agg(F.min("lang").alias("mn"), F.max("lang").alias("mx"))
        .collect()
    }
    expected = sorted(b for b, (mn, mx) in rng.items() if mn <= "lang3" <= mx)
    assert table.prune_buckets([("lang", "=", "lang3")]) == expected
    _assert_pruned_equals_full(table, [("lang", "=", "lang3")])
    # "lang7" is the global max and lang is a function of repo, so ONLY
    # r7's bucket can satisfy >= — deterministic strict reduction
    assert len(table.prune_buckets([("lang", ">=", "lang7")])) == 1
    _assert_pruned_equals_full(table, [("lang", ">=", "lang7")])
    # a value outside every bound reads nothing and returns nothing
    assert table.prune_buckets([("lang", "=", "zzz")]) == []
    assert table.read_where([("lang", "=", "zzz")]).count() == 0


def test_pruning_conservative_across_updates(spark, table):
    # move one row's lang OUT of the predicate set via an ordinary upsert
    victim = table.read().filter("repo = 'r2'").limit(1).collect()[0]
    up = spark.createDataFrame(
        [(victim["repo"], victim["path"], "c-up", "migrated", victim["content"])],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("op", F.lit(OP_UPDATE))
    table.upsert(up)
    # old value: bucket is still read (base bounds include it) but the row
    # no longer matches; new value: the delta/new-gen bounds include it
    _assert_pruned_equals_full(table, [("lang", "=", f"lang2")])
    res = table.read_where([("lang", "=", "migrated")]).collect()
    assert len(res) == 1 and res[0]["path"] == victim["path"]


def test_delete_only_delta_keeps_pruning_safe(spark, table):
    victims = table.read().filter("repo = 'r4'").select("repo", "path")
    n = victims.count()
    dels = victims.select(
        "repo",
        "path",
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
    ).withColumn("op", F.lit(OP_DELETE))
    table.upsert(dels)
    assert table.read().filter("repo = 'r4'").count() == 0
    # the tombstone generation has all-NULL lang (nonnull=0 ⇒ excludes),
    # and results stay exact for both a surviving and the deleted lang
    _assert_pruned_equals_full(table, [("lang", "=", "lang4")])
    assert n > 0 and table.read_where([("lang", "=", "lang4")]).count() == 0
    # MOR: the tombstone delta's entry is nonnull=0 and still EXCLUDES, so
    # a value outside every base bound keeps pruning to nothing
    meta = table._meta()
    for entries in meta["deltas"].values():
        for e in entries:
            for entry in meta["stats"][e["gen"]].values():
                assert entry["lang"]["nonnull"] == 0
    assert table.prune_buckets([("lang", "=", "zzz")]) == []


def test_set_stats_cols_is_a_commit_and_backfills_naturally(spark, tmp_path):
    t = HashBucketParquetTable(
        spark,
        str(tmp_path / "flip"),
        n_buckets=N_BUCKETS,
        bucket_cols=("repo",),
        retain_generations=8,
    )
    t.init(_clustered_df(spark))
    assert t._meta().get("stats") is None  # no stats_cols at init
    seq0 = t.commit_seq()
    t.set_stats_cols(["lang"])
    assert t.commit_seq() == seq0 + 1  # a real commit, like set_write_mode
    # old generations carry no bounds → lang predicates can't prune yet
    assert t.prune_buckets([("lang", "=", "lang3")]) is None or len(
        t.prune_buckets([("lang", "=", "lang3")])
    ) == len(t._meta()["buckets"])
    full = t.read().filter("lang = 'lang3'")
    assert datasets_equal(t.read_where([("lang", "=", "lang3")]), full)
    # a post-flip commit annotates its generation; results stay exact
    up = spark.createDataFrame(
        [("r1", "p0", "c-x", "lang1", "new-body")],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("op", F.lit(OP_UPDATE))
    t.upsert(up)
    assert any(t._meta().get("stats", {}).values())
    assert datasets_equal(
        t.read_where([("lang", "=", "lang1")]), t.read().filter("lang = 'lang1'")
    )


def test_missing_stats_never_breaks_reads(spark, table):
    meta = table._meta()
    meta.pop("stats", None)
    table._write_meta(meta)
    _assert_pruned_equals_full(table, [("lang", "=", "lang3")])
    _assert_pruned_equals_full(table, [("repo", "=", "r3")])  # hash path intact
    # a manifest written by the removed per-generation ``_stats/`` file
    # mode: no inline bounds, a stale mode key, and a leftover bounds file
    # that would exclude everything if it were consulted — opens, reads
    # exactly, prunes nothing
    meta["stats_storage"] = "sidecar"
    table._write_meta(meta)
    gen = next(iter(meta["buckets"].values()))
    table.fs.write_json_atomic(
        f"{table.path}/_stats/{gen}.json",
        {b: {"lang": {"min": "a", "max": "b", "nonnull": 1}} for b in meta["buckets"]},
    )
    legacy = HashBucketParquetTable(spark, table.path, stats_cols=("lang",))
    assert legacy.prune_buckets([("lang", "=", "lang3")]) is None
    _assert_pruned_equals_full(legacy, [("lang", "=", "lang3")])
    assert legacy.read().count() == table.read().count() > 0


def test_dml_dsl_predicates_prune_and_converge(table):
    before = table.read().persist()
    n_r5 = before.filter("repo = 'r5'").count()
    assert n_r5 > 0
    # GDPR-erasure shape: repo-pinned delete reads one bucket, converges
    assert table.delete_where([("repo", "=", "r5")]) == n_r5
    assert datasets_equal(table.read(), before.filter("repo <> 'r5'"))
    n_up = table.update_where(
        [("repo", "=", "r6")], {"content": F.lit("redacted")}
    )
    assert n_up == before.filter("repo = 'r6'").count()
    assert (
        table.read().filter("repo = 'r6' AND content <> 'redacted'").count() == 0
    )
    before.unpersist()


def test_stats_survive_restore_and_gc_with_generations(spark, table):
    seq0 = table.commit_seq()
    pruned0 = table.prune_buckets([("lang", "=", "lang1")])
    assert len(pruned0) < len(table._meta()["buckets"])
    table.delete_where([("repo", "=", "r1")])
    table.restore(seq0)
    # resurrected generations still carry their bounds: they prune as
    # before the delete, and pruned reads stay exact
    assert table.prune_buckets([("lang", "=", "lang1")]) == pruned0
    _assert_pruned_equals_full(table, [("lang", "=", "lang1")])
    assert table.read().filter("repo = 'r1'").count() > 0
    # stats map never references unknown generations (GC'd with retention)
    meta = table._meta()
    known = set(meta.get("retired", {}))
    known |= {g for g in meta["buckets"].values()}
    for entries in meta.get("deltas", {}).values():
        known |= {e["gen"] for e in entries}
    assert set(meta.get("stats", {})) <= known


def test_wap_staging_stats_land_at_publish(spark, table):
    up = spark.createDataFrame(
        [("r0", "p0", "c-wap", "lang0", "wap-body")],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("op", F.lit(OP_UPDATE))
    # an abandoned staging leaves no bounds behind, pending or live
    dropped = table.stage_upsert(up)
    assert dropped.gen in table._pending_gen_stats
    dropped.abandon()
    assert dropped.gen not in table._pending_gen_stats
    assert dropped.gen not in table._meta().get("stats", {})
    staged = table.stage_upsert(up)
    # bounds for the still-unpublished staging are PENDING, not live
    assert staged.gen not in table._meta().get("stats", {})
    assert staged.gen in table._pending_gen_stats
    staged.publish()
    # ... and land in the manifest at the publish commit
    assert staged.gen in table._meta()["stats"]
    _assert_pruned_equals_full(table, [("lang", "=", "lang0")])


def test_long_value_gets_no_bound_and_stays_readable(spark, table):
    """A stats-column value longer than the parquet writer's statistics
    limit: the writer drops that column chunk's min/max (it never
    truncates), so the generation gets NO bound for the column in that
    bucket — and the bucket, never excluded, still serves the row."""
    long_lang = "x" * 5000
    up = spark.createDataFrame(
        [("r3", "p-long", "c-long", long_lang, "long-body")],
        "repo string, path string, commit string, lang string, content string",
    ).withColumn("op", F.lit(OP_UPDATE))
    table.upsert(up)
    (b,) = table.prune_buckets([("repo", "=", "r3")])
    meta = table._meta()
    deltas = meta["deltas"].get(str(b))
    gen = deltas[-1]["gen"] if deltas else meta["buckets"][str(b)]
    assert "lang" not in meta.get("stats", {}).get(gen, {}).get(str(b), {})
    assert b in table.prune_buckets([("lang", "=", long_lang)])
    res = table.read_where([("lang", "=", long_lang)]).collect()
    assert len(res) == 1 and res[0]["path"] == "p-long"
