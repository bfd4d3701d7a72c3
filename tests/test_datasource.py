"""The ``cdclake`` Python data source (PySpark 4 DataSource API): batch
snapshot scan ≡ table.read(), streaming change feed ≡ read_changes, the
pandas fold pinned to the JVM fold, and streaming lake→lake replication
(feed → foreachBatch upsert) converging to the source."""

import pytest
from pyspark.sql import functions as F

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_events, canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_events, gen_repos
from bcdc2bcdc_spark.operators.lww import lww_dedup
from bcdc2bcdc_spark.schema import REPOS_SCHEMA
from bcdc2bcdc_spark.sources.datasource import read_snapshot, stream_changes
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable
from tests.conftest import sorted_reprs


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture
def mor_table(spark, tmp_path):
    """A MOR table with outstanding deltas across 3 versions."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=200, seed=7))
    t = HashBucketParquetTable(
        spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor",
        retain_generations=16,
    )
    t.init(base)
    ev = canonicalize_events(
        gen_events(spark, n_events=1500, n_keys=200, n_epochs=2, seed=7)
    )
    for e in range(2):
        t.upsert(lww_dedup(ev.filter(F.col("epoch") == e).drop("epoch")))
    return t


def test_batch_snapshot_equals_table_read(spark, mor_table):
    """The executor-side pandas fold ≡ the JVM merge — the pinning test
    for the two implementations."""
    snap = read_snapshot(spark, mor_table.path)
    assert _rows(snap.drop("op", "_version")) == _rows(mor_table.read())
    # op is NULL and _version is the head on every snapshot row
    head = mor_table.commit_seq()
    assert snap.filter(F.col("op").isNotNull()).count() == 0
    assert snap.filter(F.col("_version") != head).count() == 0


def test_stream_feed_equals_read_changes(spark, mor_table):
    q = (
        stream_changes(spark, mor_table.path)
        .writeStream.format("memory")
        .queryName("ds_feed")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ds_feed")
    ref = mor_table.read_changes(1, mor_table.commit_seq())
    cols = ["repo", "path", "lang", "content", "op"]
    assert _rows(got.select(*cols)) == _rows(ref.select(*cols))


def test_stream_incremental_microbatches(spark, mor_table):
    """A running stream picks up NEW commits as separate micro-batches
    with the right _version stamps."""
    t = mor_table
    q = (
        stream_changes(spark, t.path)
        .writeStream.format("memory")
        .queryName("ds_incr")
        .start()
    )
    try:
        q.processAllAvailable()
        v_head = t.commit_seq()
        seen = spark.sql("select max(_version) m from ds_incr").first()["m"]
        assert seen == v_head
        one = (
            t.read()
            .limit(1)
            .withColumn("op", F.lit("UPDATE"))
            .withColumn("content", F.lit("stream-pickup"))
        )
        t.upsert(one)
        q.processAllAvailable()
        new_rows = spark.sql(
            f"select * from ds_incr where _version = {v_head + 1}"
        ).collect()
        assert len(new_rows) == 1
        assert new_rows[0]["content"] == "stream-pickup"
        assert new_rows[0]["op"] == "UPDATE"
    finally:
        q.stop()


def test_streaming_replication_converges(spark, mor_table, tmp_path):
    """THE closing loop: readStream(cdclake) → foreachBatch(dst.upsert)
    is continuous lake→lake replication; after the stream drains, dst
    equals src exactly (the reference's source→dest mission as a
    Structured Streaming query)."""
    src = mor_table
    dst = HashBucketParquetTable(spark, str(tmp_path / "dst"), n_buckets=4)
    # the stream starts at version 1, so dst must BE src@v1 (the
    # bootstrap contract, same as plans/replicate.TableReplicator):
    # a feed only carries what changed after its start version
    dst.init(src.read_version(1))

    def apply_batch(batch_df, batch_id):
        dst.upsert(batch_df.drop("_version"))

    q = (
        stream_changes(spark, src.path)
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    from bcdc2bcdc_spark.operators.diff import datasets_equal

    # canonical convergence; commit is compare-excluded version metadata
    # (a coalesced feed nets delete+re-add-identical to "no change")
    assert datasets_equal(dst.read(), src.read())
    payload = ["repo", "path", "lang", "content"]
    assert _rows(dst.read().select(*payload)) == _rows(src.read().select(*payload))


def test_stream_rate_limit_one_version_per_batch(spark, mor_table):
    """maxversionsperbatch=1 → per-commit micro-batches in steady state.
    The FIRST batch of a (re)started stream is always coalesced — the
    reader sees Spark's checkpointed progress only once a batch is
    planned, and a start-anchored clamp would hand a restarted stream an
    offset behind its checkpoint (the restart-stall bug this pins)."""
    t = mor_table
    q = (
        stream_changes(spark, t.path, max_versions_per_batch=1)
        .writeStream.format("memory")
        .queryName("ds_rate")
        .start()
    )
    try:
        q.processAllAvailable()
        # catch-up: ONE coalesced batch stamped with the head version
        versions = sorted(
            r["_version"] for r in spark.sql(
                "select distinct _version from ds_rate").collect()
        )
        assert versions == [3]
        # steady state: each new commit arrives as its own batch
        for i in range(2):
            one = (
                t.read()
                .limit(1)
                .withColumn("op", F.lit("UPDATE"))
                .withColumn("content", F.lit(f"steady-{i}"))
            )
            t.upsert(one)
        q.processAllAvailable()
        got = spark.sql("select * from ds_rate")
        cols = ["repo", "path", "lang", "content", "op"]
        for v in (4, 5):
            batch = got.filter(F.col("_version") == v).select(*cols)
            ref = t.read_changes(v - 1, v).select(*cols)
            assert _rows(batch) == _rows(ref), v
            assert batch.count() == 1, v
    finally:
        q.stop()


def test_stream_feed_coherent_across_evolution(spark, tmp_path):
    """The Python source's fold recomputes digests when a manifest's
    digest_cols lags its compare set (post-evolve, pre-redigest) — the
    streaming feed must match the JVM read_changes row-for-row, with no
    spurious UPDATEs, and the snapshot reader's no-op suppression must
    keep matching table.read()."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=120, seed=9))
    t = HashBucketParquetTable(
        spark, str(tmp_path / "lag"), n_buckets=4, retain_generations=16
    )
    t.init(base)
    wide = (
        t.read()
        .limit(2)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("stars", F.lit(1).cast("int"))
    )
    t.upsert(wide)
    one = (
        t.read()
        .filter(F.col("stars").isNull())
        .limit(1)
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("content", F.lit("really-changed"))
    )
    t.upsert(one)
    assert t._meta()["digest_cols"] != t._meta()["compare_cols"]
    q = (
        stream_changes(spark, t.path)
        .writeStream.format("memory")
        .queryName("ds_lag")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("select * from ds_lag")
        cols = ["repo", "path", "lang", "content", "op"]
        # coalesced catch-up batch over the lag-spanning interval 1→3:
        # must equal the JVM feed exactly — no spurious UPDATE rows from
        # mixed-column-set digests
        ref = t.read_changes(1, 3).select(*cols)
        assert _rows(got.select(*cols)) == _rows(ref)
        assert got.filter(F.col("content") == "really-changed").count() == 1
    finally:
        q.stop()
    snap = read_snapshot(spark, t.path)
    assert _rows(snap.drop("op", "_version")) == _rows(t.read())


def test_stream_pre_images_feed_incremental_mv(spark, mor_table, tmp_path):
    """includepre=true: the stream carries Delta-CDF-style pre-images, so
    a materialized view can be maintained continuously from the feed —
    across the catch-up batch AND a later commit's batch — and equals the
    recompute at every step."""
    from bcdc2bcdc_spark.operators.mv import IncrementalAggregate

    t = mor_table
    agg = IncrementalAggregate(
        group_cols=("repo",), measures={"total_bytes": "length(content)"}
    )
    mv_holder = {"mv": agg.full_state(t.read_version(1)).cache()}

    def advance(batch_df, _bid):
        if batch_df.isEmpty():
            return
        new_mv = agg.apply_delta(
            mv_holder["mv"], agg.delta(batch_df.drop("_version"))
        ).cache()
        new_mv.count()
        mv_holder["mv"] = new_mv

    q = (
        stream_changes(spark, t.path, include_pre=True)
        .writeStream.foreachBatch(advance)
        .option("checkpointLocation", str(tmp_path / "mv_ck"))
        .start()
    )
    q.processAllAvailable()
    assert _rows(mv_holder["mv"]) == _rows(agg.full_state(t.read()))
    # a later commit flows through as its own batch and the MV tracks it
    kill = (
        t.read()
        .limit(5)
        .withColumn("op", F.lit("DELETE"))
        .select("repo", "path", "commit", "lang", "content", "op")
    )
    t.upsert(kill)
    q.processAllAvailable()
    q.stop()
    assert _rows(mv_holder["mv"]) == _rows(agg.full_state(t.read()))


def _stats_table(spark, tmp_path, mode):
    """lang is a FUNCTION of repo, and the table buckets by repo — the
    clustered case where per-bucket lang bounds genuinely prune."""
    df = spark.range(400).select(
        F.concat(F.lit("r"), (F.col("id") % 8)).alias("repo"),
        F.concat(F.lit("p"), F.col("id")).alias("path"),
        F.concat(F.lit("c"), F.col("id")).alias("commit"),
        F.concat(F.lit("lang"), (F.col("id") % 8)).alias("lang"),
        F.concat(F.lit("b"), F.col("id")).alias("content"),
    )
    t = HashBucketParquetTable(
        spark, str(tmp_path / f"ps_{mode}"), key_cols=("repo", "path"),
        bucket_cols=("repo",), n_buckets=8, compare_cols=("lang", "content"),
        stats_cols=("lang",), write_mode=mode,
    )
    t.init(df)
    # MOR: leave an outstanding delta so pruning must survive base+delta
    t.upsert(
        df.filter("repo = 'r5'")
        .withColumn("content", F.concat(F.col("content"), F.lit("-v2")))
        .withColumn("op", F.lit("UPDATE"))
        .withColumn("event_seq", F.monotonically_increasing_id())
    )
    return t


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_push_filters_prunes_partitions(spark, tmp_path, mode):
    """pushFilters (PySpark 4.1 filter pushdown) must drop every bucket
    whose manifest bounds exclude the predicate — planner-level unit
    check, no Spark job."""
    from pyspark.sql.datasource import EqualTo, IsNotNull

    from bcdc2bcdc_spark.sources.datasource import LakeSnapshotReader

    t = _stats_table(spark, tmp_path, mode)
    r = LakeSnapshotReader(t.path, None)
    n_all = len(r.partitions())
    residual = list(r.pushFilters([EqualTo(("lang",), "lang5"), IsNotNull(("content",))]))
    assert len(residual) == 2  # EVERYTHING stays residual — pruning is conservative
    n_pruned = len(r.partitions())
    assert n_pruned < n_all
    # ground truth: only buckets that actually hold lang5 rows survive
    want = {
        int(row["_b"])
        for row in t.read()
        .filter("lang = 'lang5'")
        .selectExpr(f"pmod(xxhash64(repo), {t.n_buckets}) AS _b")
        .distinct()
        .collect()
    }
    assert {int(b) for b in r._buckets} >= want  # conservative: never drops a match


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_push_filters_e2e_parity(spark, tmp_path, mode):
    """Through the real scan path: a filtered cdclake read equals the JVM
    table read under the same predicate (Spark re-applies the residual)."""
    from bcdc2bcdc_spark.sources.datasource import read_snapshot

    t = _stats_table(spark, tmp_path, mode)
    got = (
        read_snapshot(spark, t.path)
        .filter("lang = 'lang5' AND content >= 'b1'")
        .select("repo", "path", "lang", "content")
    )
    want = t.read().filter("lang = 'lang5' AND content >= 'b1'").select(
        "repo", "path", "lang", "content"
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0  # non-vacuous


# ---------------------------------------------------------------------------
# per-task memory guard (maxbucketbytes)
# ---------------------------------------------------------------------------


def test_bucket_bytes_guard_unit(tmp_path):
    """Pure-python contract of _guard_bucket_bytes: fires on a spec whose
    live parquet bytes (base + deltas, shared dirs counted once per fold
    that materializes them) exceed the ceiling; silent under it / at 0."""
    from bcdc2bcdc_spark.sources.datasource import (
        BucketTooLargeError,
        _guard_bucket_bytes,
    )

    base = tmp_path / "gen-a" / "_bucket=0"
    delta = tmp_path / "gen-b" / "_bucket=0"
    base.mkdir(parents=True)
    delta.mkdir(parents=True)
    (base / "part-0.parquet").write_bytes(b"x" * 1000)
    (delta / "part-0.parquet").write_bytes(b"x" * 500)
    (delta / "_SUCCESS").write_bytes(b"")  # non-parquet files don't count
    spec = {"base": str(base), "deltas": [{"dir": str(delta), "seq": 2}]}

    _guard_bucket_bytes([spec], 1500)  # exactly at the ceiling: allowed
    _guard_bucket_bytes([spec], 0)  # 0 disables
    with pytest.raises(BucketTooLargeError, match="rebucket"):
        _guard_bucket_bytes([spec], 1499)
    # diff path: old+new both materialize, so both folds' bytes count
    with pytest.raises(BucketTooLargeError):
        _guard_bucket_bytes([spec, spec], 2999)


@pytest.fixture
def clustered_table(spark, tmp_path):
    """cluster_cols order files by non-key columns, so the table's
    manifest makes the reader fold each bucket whole."""
    base = canonicalize_snapshot(gen_repos(spark, n_keys=100, seed=3))
    t = HashBucketParquetTable(
        spark, str(tmp_path / "clustered"), n_buckets=2, cluster_cols=["lang"]
    )
    t.init(base)
    return t


def test_bucket_bytes_guard_fires_through_scan(spark, clustered_table, mor_table):
    """An oversized bucket turns into a planned, actionable task error —
    not a worker OOM: the guard message (with the rebucket hint) surfaces
    through the real cdclake scan of a clustered table, which folds each
    bucket whole — while a key-sorted table's streamed fold reads the
    same 'oversized' ceiling fine, because its peak memory is
    O(batch × generations), not O(bucket bytes)."""
    with pytest.raises(Exception) as ei:
        read_snapshot(spark, clustered_table.path, max_bucket_bytes=1).count()
    assert "rebucket" in str(ei.value)

    # the streamed fold is exempt from the byte ceiling by construction
    assert (
        read_snapshot(spark, mor_table.path, max_bucket_bytes=1).count()
        == mor_table.read().count()
    )

    # default ceiling: test-scale buckets are far under it — reads work
    assert read_snapshot(spark, mor_table.path).count() == mor_table.read().count()


# ---------------------------------------------------------------------------
# bounded-memory streamed fold (key-range chunked k-way merge)
# ---------------------------------------------------------------------------


def test_stream_fold_chunked_parity(spark, mor_table):
    """batch_rows=7 cuts every bucket (200 keys / 4 buckets ≈ 50 keys per
    bucket) into many key-range chunks; the streamed fold must reproduce
    the materialized fold — and the JVM read — row-for-row, including
    commit preservation through no-op upserts and DELETE resets."""
    import pandas as pd

    from bcdc2bcdc_spark.sources.datasource import (
        _bucket_spec,
        _fold_bucket,
        _fold_bucket_streamed,
        _manifest,
    )

    meta = _manifest(mor_table.path)
    key_cols = meta["key_cols"]
    columns = [f["name"] for f in meta["schema"]["fields"]]
    streamed, whole = [], []
    for b in sorted(set(meta["buckets"]) | set(meta["deltas"]), key=int):
        spec = _bucket_spec(meta, mor_table.path, b)
        streamed += _fold_bucket_streamed(spec, key_cols, columns, batch_rows=7)
        whole.append(_fold_bucket(spec, key_cols, columns))

    def rows(frames):
        df = pd.concat(frames, ignore_index=True)[columns].astype(object)
        return sorted(tuple(None if pd.isna(v) else v for v in r) for r in df.values)

    assert len(streamed) > len(whole)
    assert rows(streamed) == rows(whole) == _rows(mor_table.read())


def test_stream_fold_pure_python_chunks(spark, mor_table):
    """Unit contract of _fold_bucket_streamed: with a tiny batch size it
    yields MULTIPLE chunks covering disjoint ascending key ranges whose
    union equals the materialized fold exactly."""
    import pandas as pd

    from bcdc2bcdc_spark.sources.datasource import (
        _bucket_spec,
        _fold_bucket,
        _fold_bucket_streamed,
        _manifest,
    )

    meta = _manifest(mor_table.path)
    key_cols = meta["key_cols"]
    columns = [f["name"] for f in meta["schema"]["fields"]]
    # pick a bucket that actually has MOR deltas outstanding
    bucket = next(iter(meta.get("deltas") or meta["buckets"]))
    spec = _bucket_spec(meta, mor_table.path, bucket)

    chunks = list(_fold_bucket_streamed(spec, key_cols, columns, batch_rows=5))
    assert len(chunks) > 1, "tiny batch size must produce multiple chunks"
    # chunks cover disjoint, ascending key ranges
    for a, b in zip(chunks, chunks[1:]):
        last = tuple(a.sort_values(key_cols).iloc[-1][k] for k in key_cols)
        first = tuple(b.sort_values(key_cols).iloc[0][k] for k in key_cols)
        assert last < first

    got = (
        pd.concat(chunks, ignore_index=True)
        .sort_values(key_cols)
        .reset_index(drop=True)
    )
    want = (
        _fold_bucket(spec, key_cols, columns)
        .sort_values(key_cols)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[list(want.columns)], want)


def test_stream_fold_clustered_falls_back(spark, clustered_table):
    """The clustered table's whole-bucket fold reads what read() reads."""
    assert _rows(
        read_snapshot(spark, clustered_table.path).drop("op", "_version")
    ) == _rows(clustered_table.read())


def test_unsorted_generation_raises(tmp_path):
    """A generation file violating the key-sorted layout must raise the
    actionable error, never silently mis-fold."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bcdc2bcdc_spark.sources.datasource import (
        UnsortedGenerationError,
        _SortedGenStream,
    )

    d = tmp_path / "gen-x" / "_bucket=0"
    d.mkdir(parents=True)
    df = pd.DataFrame(
        {"repo": ["b", "a"], "path": ["p", "p"], "_digest": ["x", "y"]}
    )
    pq.write_table(pa.Table.from_pandas(df), str(d / "part-0.parquet"))
    s = _SortedGenStream(
        str(d), -1, ["repo", "path"], ["repo", "path", "_digest"], batch_rows=10
    )
    with pytest.raises(UnsortedGenerationError, match="foreign .* or corrupt"):
        s.pull()


def test_null_key_part_streams(spark, tmp_path):
    """A NULL key part sorts first, as Spark's writer puts it, so the
    streamed fold reads the bucket holding it like any other."""
    t = HashBucketParquetTable(spark, str(tmp_path / "t"), n_buckets=1)
    rows = [(None, "p0", "c0", "go", "x"), ("r1", None, "c1", "py", "y"), ("r1", "p1", "c2", "go", "z")]
    t.init(spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string"))
    snap = read_snapshot(spark, t.path).drop("op", "_version")
    assert sorted_reprs(snap) == sorted_reprs(t.read()) and snap.count() == 3


def test_nan_and_null_payload_read_apart(spark, tmp_path):
    """The reader keeps a double NaN apart from NULL, as read() does."""
    t = HashBucketParquetTable(
        spark, str(tmp_path / "t"), key_cols=("k",), n_buckets=1, compare_cols=("d",)
    )
    t.init(spark.createDataFrame([("a", float("nan")), ("b", None), ("c", 1.5)], "k string, d double"))
    snap = read_snapshot(spark, t.path).drop("op", "_version")
    assert sorted_reprs(snap) == sorted_reprs(t.read()) == [
        "('a', nan)", "('b', None)", "('c', 1.5)"
    ]
