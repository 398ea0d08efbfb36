"""Persisted replay fixtures.

The staged-replay streaming operators drain a deterministic re-layout
of a source table (weekly micro-batch splits of ``events``, chunked
copies of ``documents``); the MinHash signature store and the
NN-Descent index are built artifacts of the same kind.  Each is a pure
function of the source data and its parameters, so it is persisted
ONCE under the Spark warehouse and reused by every later
session/process: digest keyed by source path, params, the
source's ``corpus_version`` (functions/cache.py — data edits
invalidate, also a part file rewritten inside a directory-layout
table), and a format version (staging-code changes invalidate).

Durability protocol:

- staging happens in a sibling temp dir, promoted by ONE atomic
  ``os.rename`` — a concurrent second stager loses the rename and
  discards its temp dir, so the published fixture is never a torn
  mix of two writers (recovering an old-protocol torn target uses an
  atomic move-aside, never an in-place rmtree, so a concurrently
  published complete copy survives — worst case it is briefly moved
  aside and back);
- the meta marker is written LAST (inside the temp dir), so an
  interrupted stage leaves no marker and reads as a miss;
- every (corpus, params, version) mints a new digest dir, so the store
  is pruned to a bounded dir count, oldest-meta first, with a grace
  window protecting both in-flight stages (meta-less young dirs) and
  concurrent readers still scanning a just-published dir.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import SparkSession

from ..functions.cache import corpus_version

FIXTURE_FORMAT = 1

# retention bound per fixture kind: transient corpora (tests, one-off
# fuzz datasets) would otherwise accumulate dead digest dirs forever
FIXTURE_STORE_MAX = 12

# dirs younger than this are never pruned: a meta-less young dir may
# be a concurrent stage that hasn't promoted yet, and a meta'd young
# dir may have a concurrent READER mid-scan (its lazy plan resolves
# files after our listdir)
PRUNE_GRACE_SEC = 3600.0


def prune_store(store_dir: str, keep: str, meta_name: str) -> None:
    """Drop the oldest digest DIRS beyond ``FIXTURE_STORE_MAX``, never
    the one just written. Meta-file mtime orders recency (it is written last,
    so a dir without one is torn and sorts first-to-prune). Nothing
    younger than ``PRUNE_GRACE_SEC`` is touched — see the module
    docstring — and plain files are skipped entirely so a stray lock
    or OS metadata file neither occupies a retention slot nor gets
    rmtree'd."""

    def meta_mtime(d: str) -> float:
        try:
            return os.stat(os.path.join(store_dir, d, meta_name)).st_mtime
        except OSError:
            return 0.0

    def age_sec(d: str) -> float:
        m = meta_mtime(d)
        if m > 0.0:
            return time.time() - m
        try:
            return time.time() - os.stat(os.path.join(store_dir, d)).st_mtime
        except OSError:
            return -1.0  # vanished under us — treat as too young

    def is_staging(d: str) -> bool:
        # another process's in-flight staging / recovery dir: its
        # top-level mtime can go stale while Spark writes land in
        # SUBdirectories, so the 1-hour grace is not protection
        # enough — never count it against retention, and only sweep
        # it as a crash leftover after a day
        return ".tmp-" in d or ".aside-" in d

    try:
        entries = [
            d
            for d in os.listdir(store_dir)
            if os.path.isdir(os.path.join(store_dir, d))
        ]
    except OSError:
        return
    digests = sorted(
        (d for d in entries if not is_staging(d)), key=meta_mtime, reverse=True
    )
    for d in digests[FIXTURE_STORE_MAX:]:
        full = os.path.join(store_dir, d)
        if os.path.abspath(full) != os.path.abspath(keep) and age_sec(d) > PRUNE_GRACE_SEC:
            shutil.rmtree(full, ignore_errors=True)
    for d in entries:
        if is_staging(d) and age_sec(d) > 24 * 3600.0:
            shutil.rmtree(os.path.join(store_dir, d), ignore_errors=True)


def _warehouse_root(spark: SparkSession) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def fixture_dir(
    spark: SparkSession, kind: str, sf_dir: str, src_file: str, params: str
) -> str:
    version = corpus_version(os.path.join(sf_dir, src_file))
    digest = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{src_file}|{params}|{version}|v{FIXTURE_FORMAT}".encode()
    ).hexdigest()[:16]
    return os.path.join(_warehouse_root(spark), kind, digest)


def ensure_fixture(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    src_file: str,
    params: str,
    stage: Callable[[str], None],
) -> str:
    """Return the fixture directory for (kind, sf_dir, params),
    invoking ``stage(dir)`` to build it only when absent/stale.
    Staging is atomic: build in a temp sibling, write the meta marker
    there, then one ``os.rename`` publishes the whole dir — a
    concurrent second stager loses the rename (non-empty target) and
    discards its temp copy."""
    d = fixture_dir(spark, kind, sf_dir, src_file, params)
    marker = os.path.join(d, "_fixture_meta.json")
    if os.path.exists(marker):
        return d
    os.makedirs(os.path.dirname(d), exist_ok=True)
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)  # stale crash leftover of OUR pid
    os.makedirs(tmp)
    try:
        stage(tmp)
        with open(os.path.join(tmp, "_fixture_meta.json"), "w") as fh:
            json.dump({"kind": kind, "params": params}, fh)
        try:
            os.rename(tmp, d)
        except OSError:
            if not os.path.exists(marker):
                # Target exists but looked torn (a crashed writer
                # under the old non-atomic protocol). NEVER rmtree it
                # in place — the marker check races a concurrent
                # publisher, and destroying a just-published complete
                # fixture would fail a reader already mid-scan.
                # Instead MOVE it aside atomically, then decide:
                aside = f"{d}.aside-{os.getpid()}"
                # mirror the tmp handling: a stale aside dir left by a
                # crashed recovery (with a later pid-recycled process)
                # would make the rename below fail spuriously
                shutil.rmtree(aside, ignore_errors=True)
                try:
                    os.rename(d, aside)
                except OSError:
                    aside = None  # d vanished/replaced under us
                if aside and os.path.exists(
                    os.path.join(aside, "_fixture_meta.json")
                ):
                    # we raced a publisher and moved its COMPLETE
                    # copy aside: put it back if the slot is still
                    # free, else the slot was re-published (identical
                    # content — pure function of inputs) and ours is
                    # redundant either way
                    try:
                        os.rename(aside, d)
                    except OSError:
                        shutil.rmtree(aside, ignore_errors=True)
                else:
                    if aside:
                        shutil.rmtree(aside, ignore_errors=True)
                    try:
                        os.rename(tmp, d)
                    except OSError:
                        if not os.path.exists(marker):
                            raise
            # else: a concurrent stager promoted first; its copy is
            # complete (rename is atomic) — serve that one
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    prune_store(os.path.dirname(d), keep=d, meta_name="_fixture_meta.json")
    return d
