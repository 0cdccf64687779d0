"""The engine's Python worker daemon (``pyworker``) and the worker
environment ``session.get_spark`` sets up: per-task zip-cache invalidation
that re-reads only changed archives, and workers that import the engine
whatever the driver's working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from recommender_systems_pyspark_spark import pyworker

REPO_ROOT = Path(__file__).resolve().parent.parent

#: The daemon patches zipimport only below 3.12, whose zipimport re-reads
#: an archive lazily after an invalidation.
patched_python = pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ zipimport re-reads lazily")


def _write_zip(path: Path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@patched_python
def test_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    """With the daemon's patch, ``importlib.invalidate_caches()`` re-reads
    a zip on the path only when its (inode, size, mtime) moved: an
    untouched archive is not re-read, and an archive rewritten in place or
    replaced serves its new contents on the next import."""
    a, b = tmp_path / "a.zip", tmp_path / "b.zip"
    _write_zip(a, {"pw_mod_a.py": "X = 1\n"})
    _write_zip(b, {"pw_mod_b.py": "Y = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_if_changed)
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(str(b))
    monkeypatch.syspath_prepend(str(a))
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    names = ("pw_mod_a", "pw_mod_a2", "pw_mod_b")
    try:
        assert importlib.import_module("pw_mod_a").X == 1
        assert importlib.import_module("pw_mod_b").Y == 1
        importlib.invalidate_caches()  # first call per importer: stock re-read
        reads.clear()

        importlib.invalidate_caches()
        assert reads == []

        # rewritten in place (same inode): a new module, a bigger archive
        inode = a.stat().st_ino
        _write_zip(a, {"pw_mod_a.py": "X = 1\n", "pw_mod_a2.py": "Z = 2\n"})
        assert a.stat().st_ino == inode
        importlib.invalidate_caches()
        assert reads == [str(a)]
        assert importlib.import_module("pw_mod_a2").Z == 2

        # replaced by a rename with the same size and mtime: only the inode
        # tells the archives apart, and it is enough
        reads.clear()
        st = a.stat()
        new = tmp_path / "a_new.zip"
        _write_zip(new, {"pw_mod_a.py": "X = 3\n", "pw_mod_a2.py": "Z = 2\n"})
        assert new.stat().st_size == st.st_size
        os.utime(new, ns=(st.st_atime_ns, st.st_mtime_ns))
        os.replace(new, a)
        importlib.invalidate_caches()
        assert reads == [str(a)]
        sys.modules.pop("pw_mod_a")
        assert importlib.import_module("pw_mod_a").X == 3

        # a vanished archive takes the stock path and drops its directory
        reads.clear()
        a.unlink()
        importlib.invalidate_caches()
        assert reads == [str(a)]
        assert str(a) not in zipimport._zip_directory_cache
    finally:
        for name in names:
            sys.modules.pop(name, None)


@patched_python
def test_worker_task_rereads_no_archive(spark):
    """Inside a Python worker, one ``importlib.invalidate_caches()`` (the
    call Spark makes at the start of every task) parses no zip directory,
    though the worker imports from Spark's jar, pyspark.zip and py4j's zip.
    Stock workers re-read all of them (16 archives) on every task."""
    import pandas as pd

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: (reads.append(archive), read_directory(archive))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = spark.range(2).repartition(2).mapInPandas(count_reads, "reads int, zips int").collect()
    assert rows
    assert all(r.zips > 0 for r in rows), rows
    assert [r.reads for r in rows] == [0] * len(rows), rows


def test_worker_ignores_pandas_all_na_concat_warning(spark):
    """The FutureWarning pandas 2.2 raises when pyspark's Arrow serializer
    pads ``applyInPandasWithState`` frames with all-NA rows is filtered in
    the workers: issued from ``pyspark.sql.pandas.serializers`` inside a
    task, it is not even recorded."""
    import pandas as pd

    def warn(batches):
        import warnings

        with warnings.catch_warnings(record=True) as seen:
            warnings.warn_explicit(
                "The behavior of DataFrame concatenation with empty or all-NA "
                "entries is deprecated.",
                FutureWarning,
                "serializers.py",
                1,
                module="pyspark.sql.pandas.serializers",
            )
        for _ in batches:
            yield pd.DataFrame({"recorded": [len(seen)]})

    rows = spark.range(1).mapInPandas(warn, "recorded int").collect()
    assert [r.recorded for r in rows] == [0]


_OTHER_CWD_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from recommender_systems_pyspark_spark.multimodal.media import FEATURES_SCHEMA, extract_features
from recommender_systems_pyspark_spark.session import get_spark

spark = get_spark("pyworker-cwd")
spark.sparkContext.setLogLevel("ERROR")

def double(batches):
    for pdf in batches:
        yield pdf * 2

assert sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect()) == [0, 2, 4]
media = spark.createDataFrame(
    pd.DataFrame({{"doc_id": [7], "media_type": ["raw"], "payload": [b"abc"], "byte_len": [3]}})
)
(row,) = media.mapInPandas(extract_features, FEATURES_SCHEMA).collect()
assert (row.doc_id, row.byte_len) == (7, 3), row
print("WORKERS OK")
"""


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    """A driver started outside the repository, with no PYTHONPATH (the
    package found only through a ``sys.path`` shim, as the tests and
    ``tools/verify_local.py`` do), still runs a local pandas function and
    an engine-module UDF: workers get the engine's root on their path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_SCRIPT.format(root=str(REPO_ROOT))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKERS OK" in proc.stdout, proc.stderr[-4000:]
