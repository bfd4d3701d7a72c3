"""Core operator tests: generator invariants, digest parity, LWW strategy
equivalence, snapshot diff vs manifest, apply vs pandas oracle."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events, canonicalize_snapshot
from bcdc2bcdc_spark.functions.digest import row_digest_expr, with_row_digest
from bcdc2bcdc_spark.generator import IGNORED_REPOS, gen_events, gen_repos, gen_snapshot_pair
from bcdc2bcdc_spark.operators.apply import apply_changes
from bcdc2bcdc_spark.operators.diff import datasets_equal, snapshot_diff
from bcdc2bcdc_spark.operators.lww import lww_dedup

from tests.oracle import content_sha_index, replay


def test_generator_base_invariants(spark):
    base = gen_repos(spark, n_keys=500, seed=42)
    assert base.count() == 500
    assert base.select("repo", "path").distinct().count() == 500  # key-unique
    assert base.filter(F.length("commit") != 40).count() == 0
    # determinism across invocations
    again = gen_repos(spark, n_keys=500, seed=42)
    assert datasets_equal(base, again)
    # skew present: top repo owns ≥25% of keys
    top = base.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert top["count"] >= 125


def test_generator_events_dirtiness(spark):
    ev = gen_events(spark, n_events=4000, n_keys=800, n_epochs=4, seed=42)
    assert ev.count() == 4000
    # duplicate keys within an epoch (forces LWW)
    dups = ev.groupBy("epoch", "repo", "path").count().filter("count > 1").count()
    assert dups > 0
    # event_seq unique, commit lexically monotone in event_seq per key
    assert ev.select("event_seq").distinct().count() == 4000
    # None-ish noise exists
    assert ev.filter(F.col("lang").isin("None", "")).count() > 0
    # DELETE carries null content
    assert ev.filter((F.col("op") == "DELETE") & F.col("content").isNotNull()).count() == 0
    # hot-key hammer: ≥15% of events on some single repo
    top = ev.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert top["count"] >= 0.15 * 4000
    # ops all valid
    assert ev.filter(~F.col("op").isin("ADD", "UPDATE", "DELETE")).count() == 0


def test_digest_arrow_jvm_parity(spark):
    # one-column payload: NULL, '', 'None', a 5,000-char value, unicode
    df = spark.createDataFrame(
        [("a",), (None,), ("",), ("None",), ("x" * 5000,), ("naïve ünïcode",)],
        ["v"],
    )
    got = with_row_digest(
        with_row_digest(df, ["v"], "jvm", impl="jvm"), ["v"], "arrow", impl="arrow"
    )
    assert got.filter(F.col("jvm") != F.col("arrow")).count() == 0
    # row digest parity across impls on a multi-column payload
    base = canonicalize_snapshot(gen_repos(spark, n_keys=300))
    a = with_row_digest(base, ["lang", "content"], "d", impl="arrow")
    j = with_row_digest(base, ["lang", "content"], "d", impl="jvm")
    assert (
        a.select("repo", "path", "d").exceptAll(j.select("repo", "path", "d")).count() == 0
    )


def test_digest_distinguishes_null_empty_after_no_canon(spark):
    df = spark.createDataFrame([(None,), ("",)], ["v"])
    vals = [r["d"] for r in df.select(row_digest_expr(["v"]).alias("d")).collect()]
    assert vals[0] != vals[1]  # raw: null ≠ '' ; canonicalization is what unifies


@pytest.mark.parametrize("strategy", ["window", "maxby", "salted"])
def test_lww_strategies_equivalent(spark, strategy):
    ev = gen_events(spark, n_events=3000, n_keys=300, n_epochs=1, seed=1)
    ref = lww_dedup(ev, strategy="window").orderBy("repo", "path")
    got = lww_dedup(ev, strategy=strategy).orderBy("repo", "path")
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    # exactly one winner per key
    assert got.groupBy("repo", "path").count().filter("count > 1").count() == 0
    # winner is the max (commit, event_seq)
    mx = ev.groupBy("repo", "path").agg(F.max(F.struct("commit", "event_seq")).alias("m"))
    chk = got.join(mx, ["repo", "path"]).filter(
        (F.col("commit") != F.col("m.commit")) | (F.col("event_seq") != F.col("m.event_seq"))
    )
    assert chk.count() == 0


def test_snapshot_diff_matches_manifest(spark):
    src, dest, manifest = gen_snapshot_pair(spark, n_keys=1000, seed=7)
    diff = snapshot_diff(src, dest).cache()
    got = {r["op"]: r["count"] for r in diff.groupBy("op").count().collect()}
    assert got.get("ADD", 0) == manifest["n_add"]
    assert got.get("DELETE", 0) == manifest["n_delete"]
    assert got.get("UPDATE", 0) == manifest["n_update"]
    # falsy-only rows classified unchanged → absent from the diff entirely
    total = diff.count()
    assert total == manifest["n_add"] + manifest["n_delete"] + manifest["n_update"]
    diff.unpersist()


def test_diff_then_apply_converges(spark):
    """apply(dest, diff(src, dest)) must equal src — the reference's whole
    program as two engine calls (replay-convergence, D3)."""
    src, dest, _ = gen_snapshot_pair(spark, n_keys=800, seed=11)
    change_set = snapshot_diff(src, dest)
    final = apply_changes(canonicalize_snapshot(dest), change_set)
    assert datasets_equal(final, src)
    # and the diff of equals is empty / idempotent re-apply changes nothing
    assert datasets_equal(apply_changes(final, snapshot_diff(src, final)), src)


def test_apply_matches_pandas_oracle(spark):
    base = gen_repos(spark, n_keys=400, seed=42)
    ev = gen_events(spark, n_events=2500, n_keys=400, n_epochs=3, seed=42)
    base_c = canonicalize_snapshot(base)

    cur = base_c
    for epoch in sorted(r["epoch"] for r in ev.select("epoch").distinct().collect()):
        batch = canonicalize_events(ev.filter(F.col("epoch") == epoch))
        winners = lww_dedup(batch.drop("epoch"))
        cur = apply_changes(cur, winners)
    got = cur.toPandas()

    oracle = replay(base.toPandas(), ev.toPandas())
    gidx, oidx = content_sha_index(got), content_sha_index(oracle)
    assert gidx == oidx  # per-row sha256(content) equality — the north-rule invariant
    # full-row check too (commit/lang), via sorted frames
    g = got.sort_values(["repo", "path"]).reset_index(drop=True)
    o = oracle.sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, o, check_dtype=False)


def test_cross_epoch_replay_converges(spark):
    """Regression: applying epochs sequentially, then replaying the FULL
    combined log once more, must be a fixpoint. Broke when generated no-op
    commits violated per-key monotonicity (LWW associativity)."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=600, seed=42))
    ev = gen_events(spark, n_events=3000, n_keys=600, n_epochs=2, seed=42)
    cur = base
    for epoch in (0, 1):
        batch = canonicalize_events(ev.filter(F.col("epoch") == epoch)).drop("epoch")
        cur = apply_changes(cur, lww_dedup(batch))
    cur = cur.cache()
    all_winners = lww_dedup(canonicalize_events(ev).drop("epoch"))
    assert datasets_equal(apply_changes(cur, all_winners), cur)
    cur.unpersist()


def test_apply_idempotent_replay(spark):
    base = canonicalize_snapshot(gen_repos(spark, n_keys=300, seed=5))
    ev = canonicalize_events(gen_events(spark, n_events=1500, n_keys=300, n_epochs=1, seed=5))
    winners = lww_dedup(ev.drop("epoch"))
    once = apply_changes(base, winners).cache()
    twice = apply_changes(once, winners)
    assert datasets_equal(once, twice)
    once.unpersist()


def test_ignored_repos_exist_in_generated_data(spark):
    ev = gen_events(spark, n_events=5000, n_keys=1000, seed=42)
    present = {
        r["repo"]
        for r in ev.filter(F.col("repo").isin(*IGNORED_REPOS)).select("repo").distinct().collect()
    }
    assert present  # generator produces ignore-listed traffic for the skip tests


def test_snapshot_diff_alternate_key(spark):
    """J5 analog: delta matched on an ALTERNATE key (the reference matches
    users on email instead of name, CKANData.py:1650-1759). Here: diff two
    lake-shaped tables keyed on `path` alone."""
    src, dest, _ = gen_snapshot_pair(spark, n_keys=300, seed=19)
    # path is unique per key_id by construction → a valid alternate key
    alt = snapshot_diff(src, dest, key_cols=("path",))
    default = snapshot_diff(src, dest)
    got_alt = {r["op"]: r["count"] for r in alt.groupBy("op").count().collect()}
    got_def = {r["op"]: r["count"] for r in default.groupBy("op").count().collect()}
    assert got_alt == got_def  # same logical delta through either key


def test_snapshot_diff_rejects_op_payload(spark):
    """A payload column named `op` collides with the diff's change marker;
    the engine must fail with a clear contract error instead of Catalyst's
    unresolved-column exception three projections deep (regression: caught
    by the round-4 library drive)."""
    import pytest

    src, dest, _ = gen_snapshot_pair(spark, n_keys=50, seed=3)
    with pytest.raises(ValueError, match="payload column named 'op'"):
        snapshot_diff(src.withColumn("op", F.lit("ADD")), dest.withColumn("op", F.lit("ADD")))


def test_pipeline_applies_evolved_events(spark, tmp_path):
    """Old-schema events (int32 seq, missing size) reconciled via
    mapInArrow flow through the pipeline end-to-end (M7)."""
    from bcdc2bcdc_spark.evolution import evolve_events
    from bcdc2bcdc_spark.plans.checkpoint import CheckpointStore
    from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
    from bcdc2bcdc_spark.schema import EVENTS_EVOLVED_SCHEMA
    from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

    base = canonicalize_snapshot(gen_repos(spark, n_keys=150, seed=23))
    ev = gen_events(spark, n_events=600, n_keys=150, n_epochs=1, seed=23)
    old = ev.drop("epoch").withColumn("event_seq", F.col("event_seq").cast("int"))
    evolved = evolve_events(old, EVENTS_EVOLVED_SCHEMA)

    table = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=8)
    table.init(base)
    pipe = CDCPipeline(table=table, checkpoints=CheckpointStore(str(tmp_path / "ck")))
    assert pipe.apply_epoch(evolved.drop("size"), 0)

    # reference result from the unevolved events must match exactly
    t2 = HashBucketParquetTable(spark, str(tmp_path / "lake2"), n_buckets=8)
    t2.init(base)
    p2 = CDCPipeline(table=t2, checkpoints=CheckpointStore(str(tmp_path / "ck2")))
    p2.apply_epoch(ev.drop("epoch"), 0)
    assert datasets_equal(table.read(), t2.read())


def test_diff_report_field_level(spark):
    """D4: per-field detail — falsy-only differences excluded, changed
    fields reported with both sides."""
    from bcdc2bcdc_spark.operators.diff import diff_report

    src, dest, manifest = gen_snapshot_pair(spark, n_keys=600, seed=9)
    rep = diff_report(src, dest).cache()
    # only content changes exist in the pair fixture (lang diffs are
    # falsy-equivalent by construction) → every row is a content change
    assert rep.filter(F.col("field") != "content").count() == 0
    assert rep.select("repo", "path").distinct().count() == manifest["n_update"]
    r = rep.first()
    assert r["src_value"] != r["dest_value"]
    rep.unpersist()


def test_java_hex_double_matches_spark_format(spark):
    """_java_hex_double must equal Spark's format_string('%a', col) —
    the float/double rendering inside with_row_digest — across random
    bit patterns, subnormals, and both widths (floats widen)."""
    import random
    import struct

    from bcdc2bcdc_spark.functions.digest import _java_hex_double

    rng = random.Random(13)
    dvals = [0.0, -0.0, 1.0, -2.5, 0.1, 5e-324, 1.5e-323, 4.9e-308,
             float("nan"), float("inf"), float("-inf"), 42.0, 1e300]
    for _ in range(300):
        v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if v == v and abs(v) != float("inf"):
            dvals.append(v)
    df = spark.createDataFrame([(v,) for v in dvals], "v double")
    got = [r[0] for r in df.select(F.format_string("%a", "v")).collect()]
    assert got == [_java_hex_double(v) for v in dvals]
    # float32: %a widens to double; numpy float32 → Python float is exact
    import numpy as np

    fvals = [float(np.float32(struct.unpack("<f", struct.pack("<I", rng.getrandbits(32)))[0]))
             for _ in range(200)]
    fvals = [v for v in fvals if v == v and abs(v) != float("inf")]
    df2 = spark.createDataFrame([(v,) for v in fvals], "v float")
    got2 = [r[0] for r in df2.select(F.format_string("%a", "v")).collect()]
    assert got2 == [_java_hex_double(v) for v in fvals]


def test_pd_row_digest_nullable_int_matches_jvm(spark, tmp_path):
    """ADVICE repro: an int compare column mixing NULL and non-NULL in ONE
    parquet file must digest identically in the pandas fold and the JVM —
    pandas float-promotion would render '42.0' vs the JVM's '42'."""
    from bcdc2bcdc_spark.functions.digest import pd_row_digest
    from bcdc2bcdc_spark.sources.datasource import _read_dir

    rows = [
        ("a", "x", 42, 2.5, True),
        ("b", "y", None, None, None),
        ("c", "z", 7, 1e-7, False),
    ]
    df = spark.createDataFrame(
        rows, "repo string, content string, stars int, score double, ok boolean"
    )
    cols = ["content", "stars", "score", "ok"]
    want = {
        r["repo"]: r["d"]
        for r in with_row_digest(df, cols, "d", impl="jvm").collect()
    }
    # through the executor-side parquet read path (one file, NULLs present)
    df.coalesce(1).write.parquet(str(tmp_path / "p"))
    pdf = _read_dir(str(tmp_path / "p"), ["repo", *cols])
    got = dict(zip(pdf["repo"], pd_row_digest(pdf, cols)))
    assert got == want
    # and through the Arrow-UDF impl (Spark-side pandas boundary)
    a = with_row_digest(df, cols, "d", impl="arrow")
    got_arrow = {r["repo"]: r["d"] for r in a.collect()}
    assert got_arrow == want
