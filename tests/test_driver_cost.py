"""Driver-side cost guards: the fixed py4j traffic of building a commit's
plan is asserted here so it cannot silently grow back. A trickle-sized
commit (a few dozen change rows into 4 of 32 buckets) pays its plan
building on every commit, before any Spark job runs."""

import threading

import pandas as pd
import py4j.clientserver
import pytest
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bcdc2bcdc_spark.functions.canonicalize import canonicalize_snapshot
from bcdc2bcdc_spark.generator import gen_repos
from bcdc2bcdc_spark.sources.lake import HashBucketParquetTable

#: py4j round trips measured when these budgets were set, + 25%
MERGE_PLAN_BUDGET = 316  # measured: 253
FEED_PLAN_BUDGET = 243  # measured: 195


def test_get_spark_turns_off_dataframe_debugging(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_workers_run_the_engine_daemon(spark):
    """Python workers fork from the engine's daemon, so their zipimporters
    carry its stat-checked ``invalidate_caches`` on every task — not just
    the first one a fresh worker runs."""
    assert spark.conf.get("spark.python.daemon.module") == "bcdc2bcdc_spark._pydaemon"

    @F.pandas_udf(T.StringType())
    def patched_by(s: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(s))

    one = spark.range(1, numPartitions=1)
    for _ in range(3):
        assert one.select(patched_by("id")).first()[0] == "bcdc2bcdc_spark._pydaemon"


@pytest.fixture
def round_trips(monkeypatch):
    """Counts the driver→JVM py4j commands the test's own thread sends
    while the returned counter runs. py4j's finalizer thread sends the
    deletes of freed proxies on its own schedule, once a second, so only
    this thread's traffic is the build's own."""
    calls = [0]
    me = threading.get_ident()
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)

    def count(build):
        build()  # warm: first-use lookups are not per-commit cost
        before = calls[0]
        build()
        return calls[0] - before

    return count


@pytest.fixture
def trickle_lake(spark, tmp_path):
    """A 32-bucket lake one small epoch past init, plus that epoch's change
    set (40 rows confined to 4 buckets)."""
    t = HashBucketParquetTable(spark, str(tmp_path / "lake"), n_buckets=32)
    t.init(canonicalize_snapshot(gen_repos(spark, n_keys=2000, seed=3)))
    mine = t.bucket_expr().isin(0, 1, 2, 3)
    batch = (
        t.read()
        .where(mine)
        .orderBy("repo", "path")
        .limit(40)
        .withColumn("content", F.concat(F.col("content"), F.lit("!")))
        .withColumn("op", F.lit("UPDATE"))
    )
    changes = spark.createDataFrame(batch.collect(), batch.schema)
    t.upsert(changes)
    return t, changes


def test_merge_plan_build_round_trip_budget(trickle_lake, round_trips):
    t, changes = trickle_lake
    meta = t._meta()
    compare = list(meta["compare_cols"])

    def build():
        t._cow_merged_plan(
            changes, compare, "jvm", meta, [0, 1, 2, 3], t.bucket_expr(), "gen-budget"
        )

    n = round_trips(build)
    assert n <= MERGE_PLAN_BUDGET, f"merge plan: {n} py4j round trips"


def test_feed_plan_build_round_trip_budget(trickle_lake, round_trips):
    t, _ = trickle_lake
    head = t.commit_seq()

    def build():
        t.read_changes(head - 1, head)

    n = round_trips(build)
    assert n <= FEED_PLAN_BUDGET, f"feed plan: {n} py4j round trips"
