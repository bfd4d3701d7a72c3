import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bcdc2bcdc_spark.session import get_spark  # noqa: E402
from bcdc2bcdc_spark.sources.fs import LocalFS  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bcdc2bcdc-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def count_jobs(sc, fn):
    """Run ``fn()`` under a fresh Spark job group and return ``(jobs,
    result)``: the number of jobs the group launched and ``fn``'s return
    value. The caller's group is restored afterwards, so a nested call
    takes its jobs out of the enclosing call's count."""
    keys = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(k) for k in keys]
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "budget")
    try:
        result = fn()
    finally:
        for k, v in zip(keys, outer):
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def staging_jobs(sc, table):
    """Count the Spark jobs of each of ``table``'s staging writes
    (``_write_generation``, patched on the instance) into the returned
    list; a ``count_jobs`` around the caller leaves them out."""
    staged = []
    orig = table._write_generation

    def _write_generation(*args):
        jobs, out = count_jobs(sc, lambda: orig(*args))
        staged.append(jobs)
        return out

    table._write_generation = _write_generation
    return staged


def sorted_reprs(df):
    """``df``'s rows as sorted reprs, so NULL and NaN compare as
    themselves (a row tuple holding NaN never equals another)."""
    return sorted(repr(tuple(r)) for r in df.collect())


class _CountingFS(LocalFS):
    """A metadata FS that counts the manifest (``_table.json``) reads and
    ``exists`` checks it serves."""

    def __init__(self) -> None:
        self.reads = self.exists_calls = 0

    def read_json(self, path):
        self.reads += path.endswith("_table.json")
        return super().read_json(path)

    def exists(self, path):
        self.exists_calls += path.endswith("_table.json")
        return super().exists(path)


def manifest_reads(table, fn):
    """Run ``fn()`` with ``table``'s metadata FS counting and return
    ``(reads, exists, result)``: the ``_table.json`` reads and ``exists``
    checks ``fn`` made through the table, and ``fn``'s return value."""
    fs, orig = _CountingFS(), table.fs
    table.fs = fs
    try:
        result = fn()
    finally:
        table.fs = orig
    return fs.reads, fs.exists_calls, result
