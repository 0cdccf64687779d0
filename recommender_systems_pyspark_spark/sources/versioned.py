"""Versioned snapshot store: overwrite-with-history over plain parquet —
the minimal table-format core (snapshot isolation + time travel) the
reference's destructive ``mode="overwrite"`` reloads
(``utils/data_loader.py:144-146``) lack.

Layout::

    path/
      v=1/  v=2/  ...     # immutable snapshot directories
      _latest              # publish log: one version per line, last = current

Protocol (single-writer, many-reader):
- A writer lands the full snapshot under ``v=N`` FIRST, then publishes
  by atomically replacing ``_latest`` (write-temp + ``os.replace`` —
  atomic on POSIX). Readers resolve ``_latest`` once and then only ever
  touch the immutable ``v=N`` directory, so a concurrent publish can
  never tear a read.
- A crash between data-write and publish leaves an orphan ``v=N`` that
  no reader sees; the next write reuses the next free version and
  ``vacuum`` sweeps orphans.

This is deliberately the local-FS model of what Delta/Iceberg do with a
transaction log; on object stores the publish step becomes the table
format's atomic metadata swap. sinks._swap_dirs is the 1-version special
case of this module.

The same store holds the engine's build-once artifacts (quantizer models,
graph edge lists) under ``.cache/`` at the checkout root:
:func:`load_or_build` keys each one by a fingerprint of its input
directory's files, so a regenerated input rebuilds it.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_latest"
_VDIR = re.compile(r"^v=(\d+)$")
_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".cache",
)


def _versions_on_disk(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = _VDIR.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _published_log_with_ts(path: str) -> list[tuple[int, int]]:
    """Publish log as (version, publish_ts_micros). Lines written before
    timestamps existed (or by callers that omit them) carry ts=0 — they
    are 'published since forever' for as-of resolution, which preserves
    the old semantics exactly."""
    mf = os.path.join(path, _MANIFEST)
    if not os.path.exists(mf):
        return []
    out: list[tuple[int, int]] = []
    with open(mf) as f:
        for line in f.read().splitlines():
            if not line.strip():
                continue
            parts = line.split("\t")
            out.append((int(parts[0]), int(parts[1]) if len(parts) > 1 else 0))
    return out


def _published_log(path: str) -> list[int]:
    return [v for v, _ in _published_log_with_ts(path)]


def published_version(path: str) -> int | None:
    """The version readers currently resolve, or None before first publish."""
    log = _published_log(path)
    return log[-1] if log else None


def list_versions(path: str) -> list[int]:
    """All PUBLISHED versions still on disk. Orphans — written but never
    published (crashed writer) — never enter the publish log, so ``v <=
    latest`` can never smuggle one in."""
    published = set(_published_log(path))
    return [v for v in _versions_on_disk(path) if v in published]


def write_snapshot(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | None = None,
    publish_ts: int | None = None,
) -> int:
    """Land ``df`` as the next snapshot and publish it. Returns the new
    version number. Data lands fully before the manifest flips, so
    readers see either the old or the new snapshot, never a mix.

    ``partition_by`` hive-partitions the snapshot directory (one subdir
    per key combination) — combined with a caller-side
    ``df.repartition(*partition_by)``, each key lands as EXACTLY one
    file (all rows of a key share one task; the writer splits a task's
    output per partition directory), which is what the compaction
    operator relies on.

    ``publish_ts`` stamps the publish-log entry (microseconds; wall
    clock when omitted) — the AS OF TIMESTAMP resolution key. It must
    be monotone across publishes to one store (enforced loudly), or
    timestamp travel would be ambiguous."""
    import time

    os.makedirs(path, exist_ok=True)
    existing = _versions_on_disk(path)
    version = (existing[-1] + 1) if existing else 1
    log = _published_log_with_ts(path)
    if publish_ts is None:
        publish_ts = time.time_ns() // 1_000
    if log and publish_ts < log[-1][1]:
        raise ValueError(
            f"publish_ts {publish_ts} precedes the last publish "
            f"({log[-1][1]}) — the publish log must stay time-monotone"
        )
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(path, f"v={version}"))
    log = log + [(version, publish_ts)]
    tmp = os.path.join(path, f"{_MANIFEST}.tmp.{version}")
    with open(tmp, "w") as f:
        f.write("\n".join(f"{v}\t{ts}" for v, ts in log))
    os.replace(tmp, os.path.join(path, _MANIFEST))  # atomic publish
    return version


def read_snapshot(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Time travel: latest published snapshot, or an explicit version.
    Unpublished (orphan) versions are not readable — they were never
    committed."""
    pub = published_version(path)
    if pub is None:
        raise FileNotFoundError(f"no published snapshot at {path}")
    if version is None:
        version = pub
    if version not in list_versions(path):
        raise FileNotFoundError(f"version {version} not published at {path} (latest={pub})")
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def version_asof(path: str, ts: int) -> int | None:
    """AS OF TIMESTAMP resolution: the latest version published at or
    before ``ts`` (microseconds) that is still on disk (vacuum shrinks
    the horizon). None when ``ts`` precedes the first surviving publish
    — the same contract as a table format's 'timestamp before earliest
    snapshot' error, surfaced as data instead of an exception."""
    on_disk = set(_versions_on_disk(path))
    eligible = [
        v for v, pts in _published_log_with_ts(path)
        if pts <= ts and v in on_disk
    ]
    return eligible[-1] if eligible else None


def read_snapshot_asof(spark: SparkSession, path: str, ts: int) -> DataFrame:
    """Time travel by TIMESTAMP: read the snapshot :func:`version_asof`
    resolves for ``ts``. Raises if no version was published by then."""
    v = version_asof(path, ts)
    if v is None:
        raise FileNotFoundError(
            f"no snapshot published at or before ts={ts} at {path}"
        )
    return read_snapshot(spark, path, v)


def vacuum(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the last ``keep_last`` published snapshots plus any
    orphans. Returns the removed version numbers. Time travel shrinks to
    the retained window — same contract as table-format VACUUM."""
    if published_version(path) is None:
        return []
    keep = set(list_versions(path)[-keep_last:])
    removed = []
    for v in _versions_on_disk(path):
        if v not in keep:  # published-but-old, or a never-published orphan
            shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed


def _input_fingerprint(sf_dir: str) -> str:
    """Digest of every file under ``sf_dir`` (symlinks followed): its
    relative path, size and ``mtime_ns``, sorted by path. Rewriting,
    adding or removing a file changes it."""
    entries = []
    for root, _dirs, files in os.walk(sf_dir, followlinks=True):
        for name in files:
            path = os.path.join(root, name)
            st = os.stat(path)
            entries.append(f"{os.path.relpath(path, sf_dir)}\t{st.st_size}\t{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()[:16]


def artifact_path(family: str, sf_dir: str, key: str) -> str:
    """Store path of the ``family``/``key`` artifact built from ``sf_dir``:
    named after the directory, keyed by the fingerprint of its files, so
    regenerated inputs get a new path and two same-named directories with
    different files never share one."""
    name = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_CACHE_ROOT, family, f"{name}_{key}_{_input_fingerprint(sf_dir)}")


def load_or_build(
    spark: SparkSession,
    family: str,
    sf_dir: str,
    key: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The published artifact at :func:`artifact_path`, writing ``build()``
    there first when none is published yet."""
    path = artifact_path(family, sf_dir, key)
    if published_version(path) is None:
        write_snapshot(build(), path)
    return read_snapshot(spark, path)
