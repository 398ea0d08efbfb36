"""One session cache and one corpus freshness token.

Operators keep expensive per-corpus intermediates alive across the
queries of one Spark application: persisted token frames, MinHash
signature tables, fitted BPE merge tables, the NN-Descent graph, the
det-epoch chunk loop and pandas UDF handles. Every such cache is a
``SessionCache`` and follows one doctrine:

- Key: the application id, the absolute path of the source table,
  then the caller's build parameters. One entry is kept per key.
- Freshness: each entry carries the ``corpus_version`` of its source.
  A lookup that sees a different version rebuilds and replaces the
  entry, so an edited corpus is never served stale.
- Application scope: a DataFrame dies with its SparkContext, so every
  lookup first drops the entries of any other application.
- Bound: a cache holds at most ``max_entries``; the oldest goes first.
- Eviction unpersists every DataFrame in the value whose SparkContext
  is still live, so executor blocks are released rather than leaked.
  Under a stopped context the blocks died with it and unpersist would
  touch a dead handle, so such frames (and values holding no
  DataFrame) are simply dropped.

``corpus_version`` is also the freshness token of the on-disk
warehouse stores (``sources/fixtures.py``, the NN-Descent index),
which is why it must be the same in every process.
"""

from __future__ import annotations

import hashlib
import os
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")


def corpus_version(path: str) -> int:
    """Freshness token of a source table. A plain file is its
    ``st_mtime_ns``, so digests minted from the mtime stay valid. A
    directory-layout table (the scaled sf1 corpus) is a digest of the
    sorted (relative path, size, mtime_ns) of every file it contains:
    rewriting a part file in place leaves the directory's own mtime
    unchanged. A missing path is 0."""
    try:
        st = os.stat(path)
    except OSError:
        return 0
    if not os.path.isdir(path):
        return st.st_mtime_ns
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:
                continue  # vanished mid-walk
            files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    digest = hashlib.blake2b(repr(sorted(files)).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "big")


def _ctx_stopped(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — any broken handle means gone
        return True


def _unpersist(value: Any) -> None:
    if isinstance(value, DataFrame):
        if not _ctx_stopped(value):
            value.unpersist()
    elif isinstance(value, (list, tuple)):
        for v in value:
            _unpersist(v)


class SessionCache(dict):
    """``(application id, source abspath, *params) -> (version,
    value)``; see the module docstring for the doctrine."""

    def __init__(self, max_entries: int):
        super().__init__()
        self.max_entries = max_entries

    def get_or_build(
        self, spark: SparkSession, build: Callable[[], V], source: str = "", *params
    ) -> V:
        """The cached value for (``source``, ``params``) in this
        application, calling ``build()`` on a miss or a stale
        version. ``source`` is the table whose ``corpus_version``
        guards the entry; leave it empty for values that depend on
        the application alone."""
        app = spark.sparkContext.applicationId
        for k in [k for k in self if k[0] != app]:
            self._evict(k)
        path = os.path.abspath(source) if source else ""
        slot = (app, path, *params)
        version = corpus_version(path) if source else 0
        hit = self.get(slot)
        if hit is not None:
            if hit[0] == version:
                return hit[1]
            self._evict(slot)
        while len(self) >= self.max_entries:
            self._evict(next(iter(self)))
        value = build()
        self[slot] = (version, value)
        return value

    def _evict(self, slot: tuple) -> None:
        _unpersist(self.pop(slot)[1])
