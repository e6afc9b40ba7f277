"""The library's Python worker daemon: a zip archive on the import path
is re-read only when it changed, and ``get_session`` workers fork from
the daemon from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from cassandra_analytics_spark import pyworker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched(monkeypatch):
    """Installs the daemon's patch for one test; monkeypatch restores
    the stock ``zipimporter.invalidate_caches`` afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker_daemon.install()


def _write_zip(path, module, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", source)


def _counting_reads(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return reads


def test_changed_archive_is_reread(patched, monkeypatch, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "zmod_daemon_probe", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zmod_daemon_probe", raising=False)
    assert importlib.import_module("zmod_daemon_probe").VALUE == 1

    # rewritten under the same name, with a different size
    _write_zip(archive, "zmod_daemon_probe", "VALUE = 22222\n")
    del sys.modules["zmod_daemon_probe"]
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_daemon_probe").VALUE == 22222
    del sys.modules["zmod_daemon_probe"]


def test_unchanged_archive_is_not_reread(patched, monkeypatch, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "zmod_daemon_quiet", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zmod_daemon_quiet")
    del sys.modules["zmod_daemon_quiet"]
    importlib.invalidate_caches()  # the first call stamps the archive
    reads = _counting_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    # the stock invalidate_caches re-reads it on every call
    monkeypatch.undo()
    reads = _counting_reads(monkeypatch)
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert archive in reads


def _daemon_patch_name(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def patch_name(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)

    (row,) = spark.range(1, numPartitions=1).select(patch_name("id")).collect()
    return row[0]


def test_get_session_workers_run_under_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "cassandra_analytics_spark.pyworker_daemon"
    )
    assert _daemon_patch_name(spark) == "_invalidate_if_changed"


SCRIPT = r"""
import sys
sys.path.insert(0, REPO)
from cassandra_analytics_spark.session import get_session
sys.path.insert(0, REPO + "/tests")
from test_pyworker_daemon import _daemon_patch_name

spark = get_session(app_name="daemon-elsewhere", master="local[1]",
                    shuffle_partitions=1)
print("PATCH", _daemon_patch_name(spark))
spark.stop()
"""


def test_daemon_runs_outside_the_repo_without_pythonpath(tmp_path):
    """Workers import the daemon through ``spark.executorEnv.PYTHONPATH``
    when neither the working directory nor ``PYTHONPATH`` leads to the
    package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", f"REPO = {REPO!r}\n" + SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "PATCH _invalidate_if_changed" in proc.stdout
