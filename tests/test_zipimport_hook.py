"""The package's zip-importer hook (``html_parser_spark/__init__``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task.  Before Python 3.13 that re-reads the central directory
of every zip archive on the import path; with the hook, only archives
that changed on disk are re-read."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

import html_parser_spark  # noqa: F401  (installs the hook)
from html_parser_spark.operators.html_ops import doc_udf

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter re-reads lazily from Python 3.13 on; no hook")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zip_hook_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zip_hook_a", "zip_hook_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zip_hook_a").X == 1
    # a worker's first task after the import stamps the archive
    importlib.invalidate_caches()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(zip_on_path, {"zip_hook_a": "X = 1\n", "zip_hook_b": "Y = 2\n"})
    st = os.stat(zip_on_path)
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert importlib.import_module("zip_hook_b").Y == 2


def test_same_stamp_rewrite_is_missed_rename_is_seen(zip_on_path, monkeypatch):
    """The hook's one blind spot: an in-place rewrite that keeps the
    inode, the size and the mtime is not re-read.  Replacing the
    archive by rename gives it a new inode, so that is re-read."""
    importlib.import_module("zip_hook_a")
    importlib.invalidate_caches()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))

    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zip_hook_a": "X = 2\n"})
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(zip_on_path).st_size == st.st_size
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(zip_on_path + ".new", {"zip_hook_a": "X = 3\n"})
    os.replace(zip_on_path + ".new", zip_on_path)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]


def test_every_doc_udf_task_runs_with_the_hook(spark):
    """A ``doc_udf`` whose row function names nothing from the package
    still imports it on the worker, so every task of a worker after the
    one that imported it runs with the hook."""

    def hook_owner(_data):
        import os
        import zipimport
        return f"{os.getpid()} {zipimport.zipimporter.invalidate_caches.__module__}"

    probe = doc_udf(StringType(), hook_owner)
    rows = (spark.range(0, 64, 1, 8)
            .select(F.spark_partition_id().alias("part"),
                    probe(F.lit("<p>x</p>")).alias("r"))
            .collect())
    assert len({r.part for r in rows}) == 8
    pids, owners = zip(*(r.r.split() for r in rows))
    assert str(os.getpid()) not in pids  # ran in Python workers
    assert set(owners) == {"html_parser_spark"}
