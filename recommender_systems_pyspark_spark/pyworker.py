"""Python worker daemon for engine sessions.

:func:`session.get_spark` names this module in ``spark.python.daemon.module``,
so Spark starts it (``python -m``) in place of ``pyspark.daemon``. It makes
one change to the workers the daemon forks, then runs ``pyspark.daemon`` as
``__main__``.

Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task. Up to Python 3.11 that makes
every cached ``zipimporter`` re-parse its archive's whole central directory,
and a worker holds about 16 of them over archives that never change: two
over Spark's core jar (``PythonUtils.sparkPythonPath`` puts it on every
worker's ``sys.path``; ~5.4k entries, ~51 ms each), eleven over
``pyspark.zip`` (~1.3k entries, ~12.5 ms each) and two over py4j's zip:
135-224 ms of worker CPU per Python task. Python 3.12+ invalidates and
re-reads lazily, so there the daemon runs unchanged.

On older Pythons :func:`invalidate_if_changed` replaces
``zipimporter.invalidate_caches``: an importer re-reads its archive only
when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the one
it last read. Python's own path finder keys its directory caches on mtime
alone; like them, the key misses a same-size rewrite in place within one
mtime tick, which the jar and zips Spark ships never see while a worker
runs. The daemon invalidates once before it forks, so every worker starts
with the keys of the archives it inherits.

On every Python version the daemon also silences one pandas warning that
its workers would print on every stateful micro-batch: pandas 2.2 deprecates
concatenating all-NA frames, which ``applyInPandasWithState``'s serializer
does when it pads typed state frames. The padding is Spark's, the result is
unaffected, and no other warning is touched.

The driver never runs this module; importing it changes nothing.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import warnings
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is the one this importer last read. The first call, a failed
    ``stat`` and a failed read all take the stock re-read. The archive is
    stat-ed before it is read, so a change made during the read shows as a
    new key on the next call and never leaves a stale directory."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_read_key", None):
        return
    self._read_key = None
    _stock_invalidate(self)
    # The stock re-read drops the archive from the shared cache when it fails.
    if key is not None and self.archive in zipimport._zip_directory_cache:
        self._read_key = key


if __name__ == "__main__":
    warnings.filterwarnings(
        "ignore",
        message="The behavior of DataFrame concatenation with empty or all-NA entries",
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers",
    )
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
        importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
