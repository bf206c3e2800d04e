"""The PySpark-worker import-cache hook (``etl_geotab_spark/pyworker.py``).

The hook leans on private CPython and PySpark seams; these tests pin
them so an interpreter or PySpark upgrade that moves one fails here
instead of silently bringing back the per-task ``pyspark.zip`` re-read.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
EAGER = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip invalidation is lazy from 3.13"
)


def test_private_seams_pinned(tmp_path):
    import pyspark.worker_util as worker_util

    assert isinstance(zipimport._zip_directory_cache, dict)
    assert callable(zipimport._read_directory)
    zp = tmp_path / "seam.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("seam_mod.py", "X = 1\n")
    imp = zipimport.zipimporter(str(zp))
    assert imp.archive == str(zp)
    assert "seam_mod.py" in imp._files
    assert zipimport._zip_directory_cache[str(zp)] is imp._files
    # every worker task ends its file setup with the eager invalidation
    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src


# Runs in a child interpreter so the worker marker and the patched
# importer never leak into the test session. Prints one JSON line.
_CHILD = r"""
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, sys.argv[1])
zp = sys.argv[2]

def write(value):
    with zipfile.ZipFile(zp, "w", zipfile.ZIP_STORED) as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/mod.py", f"VALUE = {value!r}\n")

write(1)
sys.path.insert(0, zp)
import etl_geotab_spark.pyworker as pw
import zpkg.mod
reads = []
stock_read = zipimport._read_directory
zipimport._read_directory = lambda a: (reads.append(a), stock_read(a))[1]
for _ in range(3):
    importlib.invalidate_caches()
unchanged = reads.count(zp)
write("rewritten")
importlib.invalidate_caches()
del sys.modules["zpkg.mod"], sys.modules["zpkg"]
import zpkg.mod
print(json.dumps({"installed": pw.installed(), "unchanged_reads": unchanged,
                  "value": zpkg.mod.VALUE}))
"""


def _child(tmp_path, worker: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test"
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(ROOT), str(tmp_path / "w.zip")],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


@EAGER
def test_unchanged_archive_not_reparsed_and_rewrite_picked_up(tmp_path):
    stock = _child(tmp_path, worker=False)
    hooked = _child(tmp_path, worker=True)
    assert stock["installed"] is False and hooked["installed"] is True
    # two cached importers (archive root and zpkg/) re-read on every call
    assert stock["unchanged_reads"] == 6
    # one read when first stamped, none after while the stamp holds
    assert hooked["unchanged_reads"] <= 1
    assert stock["value"] == hooked["value"] == "rewritten"


def test_hook_installed_in_datasource_worker_not_in_driver(spark):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    from etl_geotab_spark import pyworker

    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert pyworker.install() is False
    assert pyworker.installed() is False

    # defined locally so they are pickled by value, like a user source
    class ProbeReader(DataSourceReader):
        def read(self, partition):
            from etl_geotab_spark import pyworker as pw

            yield (pw.installed(),)

    class ProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "pyworker_probe"

        def schema(self):
            return "installed boolean"

        def reader(self, schema):
            return ProbeReader()

    spark.dataSource.register(ProbeSource)
    rows = spark.read.format("pyworker_probe").load().collect()
    expected = sys.version_info < (3, 13)
    assert [r.installed for r in rows] == [expected]
