"""Worker start-up: a reused Python worker does not re-read an unchanged
zip archive's directory on every task (``geofileops_spark._worker``)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from geofileops_spark import _worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13's zipimporter.invalidate_caches reads nothing",
)


def _write_zip(path, name, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)


@pytest.fixture
def zipped(tmp_path, monkeypatch):
    """A zip holding module ``gfo_zmod_a`` on ``sys.path``, the wrapper
    applied without the worker check, and a spy on the directory reads."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "gfo_zmod_a", "X = 1\n")
    monkeypatch.syspath_prepend(path)
    for name in ("gfo_zmod_a", "gfo_zmod_b", "gfo_zmod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _worker.stamped(zipimport.zipimporter.invalidate_caches),
    )
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zipped):
    path, reads = zipped
    assert importlib.import_module("gfo_zmod_a").X == 1
    reads.clear()
    importlib.invalidate_caches()  # the first call reads each archive once
    assert reads.count(path) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zipped):
    path, reads = zipped
    importlib.import_module("gfo_zmod_a")
    importlib.invalidate_caches()
    st = os.stat(path)
    # same size, new mtime: gfo_zmod_b replaces gfo_zmod_a byte for byte
    _write_zip(path, "gfo_zmod_b", "X = 2\n")
    assert os.stat(path).st_size == st.st_size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("gfo_zmod_b").X == 2
    # new size, the mtime of the last read
    _write_zip(path, "gfo_zmod_c", "X = 3  # longer\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("gfo_zmod_c").X == 3


def test_install_leaves_the_driver_alone():
    before = zipimport.zipimporter.invalidate_caches
    assert not hasattr(before, "__wrapped__")
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is before


_JOBS = r"""
import importlib, json, os, sys, zipimport

import pandas as pd

import geofileops_spark
from geofileops_spark.session import get_spark


def report(it):
    # defined in __main__, so pickled by value with the modules it
    # names: unpickling it imports geofileops_spark, whose __init__ runs
    # _worker.install()
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in it:
        pass
    yield pd.DataFrame({
        "lib": [geofileops_spark.__version__],
        "installed": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
        "reads": [len(reads)],
        "pid": [os.getpid()],
    })


spark = get_spark(app_name="gfo-worker-startup", master="local[2]", shuffle_partitions=2)
df = spark.range(0, 64, numPartitions=2)
jobs = [df.mapInPandas(report, "lib string, installed boolean, reads long, pid long").toPandas()
        for _ in range(2)]
print("JOBS " + json.dumps([j.to_dict("list") for j in jobs]))
spark.stop()
"""


def test_reused_worker_skips_the_reread(tmp_path):
    """Two passthrough ``mapInPandas`` jobs on a fresh ``local[2]``
    session: the second job's tasks run on the first job's workers, with
    the wrapper installed, and their start-up re-read nothing."""
    script = tmp_path / "jobs.py"
    script.write_text(_JOBS)
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("JOBS ")]
    assert lines, (res.stdout[-2000:], res.stderr[-2000:])
    first, second = json.loads(lines[-1][5:])
    assert len(first["pid"]) == len(second["pid"]) == 2
    assert set(second["pid"]) <= set(first["pid"]), (first, second)
    assert all(second["installed"]), second
    assert second["reads"] == [0, 0], second
