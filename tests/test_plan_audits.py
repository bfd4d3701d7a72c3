"""Physical-plan regression guards: the scale properties PLANS.md
documents are asserted here so they cannot silently regress — every hot
operator must stay free of single-partition exchanges, broadcast where
the design says broadcast, and shuffle-free where it claims zero
shuffles."""

import pytest
from pyspark.sql import functions as F, types as T

from bcdc2bcdc_spark.functions.sampling import split_column, stratified_sample
from bcdc2bcdc_spark.operators.decontam import contamination_hits
from bcdc2bcdc_spark.operators.diff import snapshot_diff
from bcdc2bcdc_spark.operators.dedupe import minhash_lsh_pairs
from bcdc2bcdc_spark.operators.lww import lww_dedup
from bcdc2bcdc_spark.operators.packing import pack_sequences


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(300)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def events(spark):
    from bcdc2bcdc_spark.generator import gen_events

    return gen_events(spark, n_events=500, n_keys=100, seed=9).drop("epoch")


def test_lww_dedup_no_single_partition(events):
    plan = _plan(lww_dedup(events))
    assert "SinglePartition" not in plan


def test_snapshot_diff_one_join_no_single_partition(spark):
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos

    a = canonicalize_snapshot(gen_repos(spark, n_keys=100, seed=3))
    plan = _plan(snapshot_diff(a, a))
    assert "SinglePartition" not in plan
    # the design is ONE full-outer join — no join proliferation
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_minhash_pairs_no_single_partition(docs):
    plan = _plan(minhash_lsh_pairs(docs, shingle_n=3))
    assert "SinglePartition" not in plan


def test_sampling_zero_exchanges(docs):
    plan = _plan(
        stratified_sample(docs.withColumn("lang", F.lit("en")), "lang",
                          {"en": 0.5}, key_col="doc_id")
    )
    assert "Exchange" not in plan  # pure codegen'd filter
    plan2 = _plan(docs.select(split_column("doc_id", {"a": 0.9, "b": 0.1})))
    assert "Exchange" not in plan2


def test_decontam_broadcasts_eval_side(docs):
    train = docs.filter("doc_id % 7 <> 0")
    ev = docs.filter("doc_id % 7 = 0")
    plan = _plan(contamination_hits(train, ev))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_packing_single_hash_exchange(spark):
    d = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    plan = _plan(pack_sequences(d, seq_len=64))
    assert "SinglePartition" not in plan  # per-shard window, never global
    assert plan.count("Exchange") == 1


def test_cc_round_no_single_partition(spark):
    # one propagation+compression round's exact operator shapes
    pairs = spark.createDataFrame([(i, i + 1) for i in range(100)], "a long, b long")
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    nbr = (
        edges.join(
            labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")), "dst"
        )
        .groupBy("src")
        .agg(F.min("nl").alias("nbr_min"))
        .withColumnRenamed("src", "id")
    )
    prop = labels.join(nbr, "id", "left").select(
        "id", F.least("label", F.coalesce("nbr_min", "label")).alias("label")
    )
    comp = (
        prop.alias("x")
        .join(
            prop.select(F.col("id").alias("label"), F.col("label").alias("label2")).alias("y"),
            "label",
        )
        .select("id", F.col("label2").alias("label"))
    )
    assert "SinglePartition" not in _plan(comp)


def test_arrow_digest_only_on_the_pipeline_change_set(spark, tmp_path, monkeypatch):
    """The one place a change set is digested in Python is the epoch
    change set ``CDCPipeline`` upserts, inside its CoW merge tasks
    (``pd_row_digest``); a replica sync and a predicate DELETE pass a JVM
    ``sha2`` column into the tasks. No staged CoW plan holds an Arrow
    digest UDF: each is one ``FlatMapGroupsInArrow`` over the change set
    with no join. On an evolved table, whose stored digests lag the
    compare set, the pipeline's plan is the same (the tasks re-digest)."""
    from bcdc2bcdc_spark.generator import gen_events
    from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
    from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
    from bcdc2bcdc_spark.plans.replicate import TableReplicator
    from bcdc2bcdc_spark.schema import REPOS_SCHEMA
    from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

    plans = []
    real = HashBucketParquetTable._cow_merged_plan

    def capture(self, *args):
        merged = real(self, *args)
        plans.append(_plan(merged))
        return merged

    monkeypatch.setattr(HashBucketParquetTable, "_cow_merged_plan", capture)

    def lake(name):
        t = HashBucketParquetTable(spark, str(tmp_path / name), n_buckets=4)
        t.init(spark.createDataFrame([], REPOS_SCHEMA))
        return t

    def jvm_digested(plans):
        """Whether the one merge's change set carries a JVM ``_digest``
        column into the tasks."""
        assert len(plans) == 1
        (plan,) = plans
        assert plan.count("FlatMapGroupsInArrow") == 1
        assert "ArrowEvalPython" not in plan
        (merge,) = [ln for ln in plan.splitlines() if "FlatMapGroupsInArrow" in ln]
        return "_digest#" in merge

    src, dst = lake("src"), lake("dst")
    ev = gen_events(spark, n_events=200, n_keys=50, n_epochs=1, seed=5).drop("epoch")

    plans.clear()
    CDCPipeline(table=src, checkpoints=CheckpointStore(str(tmp_path / "ck"))).apply_epoch(
        ev, 0
    )
    assert not jvm_digested(plans)

    plans.clear()
    rep = TableReplicator(
        src=src, dst=dst, checkpoints=CheckpointStore(str(tmp_path / "rck"))
    )
    assert rep.sync()["changes"] > 0
    assert jvm_digested(plans)

    plans.clear()
    lang = src.read().where("lang IS NOT NULL").first()["lang"]
    assert src.delete_where(F.col("lang") == lang) > 0
    assert jvm_digested(plans)

    assert src.evolve(
        T.StructType(src.data_schema().fields + [T.StructField("stars", T.LongType())])
    )
    assert src._meta()["digest_cols"] != src.resolved_compare_cols()
    plans.clear()
    ev2 = gen_events(spark, n_events=200, n_keys=50, n_epochs=1, seed=6).drop("epoch")
    CDCPipeline(table=src, checkpoints=CheckpointStore(str(tmp_path / "ck"))).apply_epoch(
        ev2, 1
    )
    assert not jvm_digested(plans)


def test_inline_key_lookup_is_one_broadcast_semi_join(spark, tmp_path):
    """A point lookup on an inline key list is a scan under one broadcast
    semi-join: no shuffle and no aggregate to dedup the keys."""
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos
    from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=4)))
    keys = spark.sql(
        "SELECT * FROM VALUES ('org/repo_00', 'a'), ('org/repo_00', 'a') AS k(repo, path)"
    )
    plan = _plan(t.lookup(keys))
    assert plan.count("BroadcastHashJoin") == 1 and "LeftSemi" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange") == 1
    assert "HashAggregate" not in plan


@pytest.mark.parametrize("impl", ["arrow", "jvm"])
def test_cow_merge_is_one_grouped_arrow_task_per_bucket(spark, tmp_path, impl):
    """The staged CoW plan is the change set's one shuffle by bucket into
    one ``FlatMapGroupsInArrow``: no join, no base scan, no second
    exchange. The merge tasks read the base themselves. The shuffle is a
    ``repartition`` (one partition per four buckets to merge, so a single
    one for this 4-bucket table), which AQE does not coalesce."""
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos
    from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=4)))
    changes = t.read().where(F.col("lang") == "go").withColumn("op", F.lit("UPDATE"))
    meta = t._meta()
    plan = _plan(
        t._cow_merged_plan(
            changes, meta["compare_cols"], impl, meta, None, t.bucket_expr(), "gen-audit"
        )
    )
    assert plan.count("FlatMapGroupsInArrow") == 1
    assert "Join" not in plan and "ArrowEvalPython" not in plan
    # the change set's own scan and its one shuffle
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM") == 1
    assert plan.count("FileScan") == 1


def test_every_generation_is_one_bucket_task_plan(spark, tmp_path, monkeypatch):
    """Every generation kind is staged by ``_write_generation`` from one
    ``FlatMapGroupsInArrow`` (one bucket task per bucket) over one
    ``repartition`` by bucket, with no Spark file write. The write-as-given
    plans of a key-sorted table sort each partition once, by bucket and
    key: the grouping's own sort, with no second one."""
    from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
    from bcdc2bcdc_spark.generator import gen_repos
    from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

    plans = []
    real = HashBucketParquetTable._write_generation

    def capture(self, tasks, gen, meta):
        plans.append(_plan(tasks))
        return real(self, tasks, gen, meta)

    monkeypatch.setattr(HashBucketParquetTable, "_write_generation", capture)
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=4)

    def change():
        return t.read().where(F.col("lang") == "go").withColumn("op", F.lit("UPDATE"))

    kinds = {
        "init": lambda: t.init(canonicalize_snapshot(gen_repos(spark, n_keys=50, seed=4))),
        "cow_upsert": lambda: t.upsert(change()),
        "mor_delta": lambda: (t.set_write_mode("mor"), t.upsert(change())),
        "compact_deltas": lambda: t.compact_deltas(),
        "compact": lambda: t.compact(max_files_per_bucket=0),
        "redigest": lambda: (
            t.evolve(T.StructType(t.data_schema().fields + [T.StructField("n", T.LongType())])),
            t.redigest(),
        ),
        "rebucket": lambda: t.rebucket(2),
    }
    for kind, run in kinds.items():
        plans.clear()
        run()
        assert len(plans) == 1, kind
        (plan,) = plans
        assert plan.count("FlatMapGroupsInArrow") == 1, kind
        # the one shuffle by bucket: coalescable by AQE for rows written
        # as given, a fixed partition count for the CoW merge
        by_bucket = "REPARTITION_BY_NUM" if kind == "cow_upsert" else "REPARTITION_BY_COL"
        assert plan.count("REPARTITION_BY") == plan.count(by_bucket) == 1, kind
        assert "WriteFiles" not in plan and "InsertIntoHadoopFsRelation" not in plan, kind
        if kind != "cow_upsert":
            (sort,) = [ln for ln in plan.splitlines() if "Sort [" in ln]
            assert "_bucket#" in sort and "repo#" in sort and "path#" in sort, kind
