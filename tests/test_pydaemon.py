"""The engine's Python daemon: its stat-checked ``invalidate_caches`` keeps
the stock semantics (a rewritten archive is re-read, an unchanged one is
not), and workers find the package from any driver working directory."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from bcdc2bcdc_spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MOD = "pydaemon_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", body)


def test_rewritten_archive_is_reread_and_unchanged_one_is_not(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MOD, raising=False)
    assert importlib.import_module(MOD).VALUE == 1
    importlib.invalidate_caches()  # the archive's directory is now stat-stamped

    _write_zip(archive, "VALUE = 'two, from a longer module'\n")
    importlib.invalidate_caches()
    del sys.modules[MOD]
    assert importlib.import_module(MOD).VALUE == "two, from a longer module"

    reads = []
    stock = _pydaemon._stock

    def counted(self):
        if self.archive == archive:
            reads.append(self)
        return stock(self)

    monkeypatch.setattr(_pydaemon, "_stock", counted)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_arrow_digest_runs_from_a_foreign_cwd(tmp_path):
    """Workers import the package (the daemon module, the pickled digest
    UDF) even when the driver runs outside the repo with no PYTHONPATH."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from bcdc2bcdc_spark import get_spark
from bcdc2bcdc_spark.functions.digest import with_row_digest
spark = get_spark("foreign-cwd", master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([("k", "payload")], "k string, v string")
arrow = with_row_digest(df, ["v"], "d", impl="arrow").first()["d"]
jvm = with_row_digest(df, ["v"], "d", impl="jvm").first()["d"]
spark.stop()
assert arrow == jvm, (arrow, jvm)
print("DIGEST_OK")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "DIGEST_OK" in out.stdout, out.stderr[-3000:]
