"""Scoped shuffle-width tuning for iterative operators.

Several iterative operators (connected components, PageRank, label
propagation, NN-Descent, streaming folds) size their per-round shuffle
width to the *materialized* working-set row count instead of the
deployment default: a graph round only ever shuffles O(edges) rows, so
running it at a 100 TB deployment's multi-thousand-partition width
wastes scheduler overhead on empty partitions.

``scoped_shuffle_width`` is the ONE sanctioned way to do the swap.

INVARIANT (enforced by construction, documented here once instead of
at six call sites): ``spark.sql.shuffle.partitions`` is session-global
state, so every Spark action that should run at the narrowed width
must execute EAGERLY inside the ``with`` block (``localCheckpoint
(eager=True)``, ``.count()``, ``.write``, collect-to-driver).  A frame
built inside the block but executed lazily after it escapes the width;
a concurrent job sharing the session would also observe the narrowed
width.  Callers therefore must (a) end every loop round in an eager
materialization, and (b) never hold the scope across a yield to
user code.  All in-repo callers follow (a); the engine is
single-threaded per session by construction.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

from ..session import int_knob

_CONF = "spark.sql.shuffle.partitions"


def scratch_dir() -> str | None:
    """Root for EPHEMERAL streaming checkpoint directories, deleted
    before the call returns, so durability was never part of their
    contract. Prefer the fastest local filesystem: the checkpoint
    metadata writes (offsets/commits/state deltas) are small
    synchronous files whose latency is pure fixed cost per
    micro-batch (~100 ms/batch measured on /dev/vda vs ~0 on tmpfs).
    Data copies (staged replays, sink output, index lists) stay in
    tempfile's default: on tmpfs they would take host RAM.

    ``$SPARK_GRAFT_SCRATCH`` overrides (point it at local NVMe on a
    real cluster node, or at a durable path to opt out); default is
    ``/dev/shm`` when present and writable, else ``None`` (tempfile's
    default). Checkpoints that MUST survive the call — resumable fits,
    cross-process fixtures under the warehouse — never use this."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return None


def drain_width(spark: SparkSession) -> int:
    """Shuffle width for a streaming drain's stateful stages. Each
    partition is one state store instance paying per-micro-batch
    restore/commit I/O, so at drain volumes (bounded state, short
    replays) narrower is strictly faster: width 4 measured ~0.2-0.3 s
    per drain faster than 8 at sf0.1 on identical results. A real
    deployment sizes this to sustained per-batch volume via
    ``$SPARK_GRAFT_STREAM_WIDTH`` (the partition count is fixed at the
    first checkpoint, so it is a per-deployment knob, not a per-query
    one); the session width still caps it so the swap only narrows.
    A zero or negative knob is clamped to 1: Spark rejects a shuffle
    width below 1 with an opaque error inside every drain. A value
    that is not an integer raises ValueError naming the knob."""
    cap = int_knob("SPARK_GRAFT_STREAM_WIDTH", 4)
    return max(1, min(shuffle_width(spark), cap))


def shuffle_width(spark: SparkSession) -> int:
    """The session shuffle width as an int, guarded: platforms that
    support it may set ``spark.sql.shuffle.partitions`` to a
    non-numeric value (e.g. ``auto``), and a bare ``int(...)`` crash
    inside a ``foreachBatch`` fails the whole drain (ADVICE r14).
    Falls back to ``defaultParallelism``, which is always numeric."""
    try:
        return int(spark.conf.get(_CONF))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def sized_width(
    spark: SparkSession,
    n_rows: int,
    rows_per_part: int = 1_000_000,
    floor: int = 8,
) -> int:
    """Shuffle width for an iterative stage that moves ``n_rows`` rows
    per round: ~``rows_per_part`` rows/partition, floored at ``floor``,
    capped at the deployment default so real-scale graphs are
    untouched (the swap only ever NARROWS)."""
    deployed = shuffle_width(spark)
    return min(deployed, max(floor, n_rows // rows_per_part + 1))


@contextmanager
def scoped_shuffle_width(spark: SparkSession, parts: int) -> Iterator[int]:
    """Temporarily set ``spark.sql.shuffle.partitions`` to ``parts``.

    See module docstring for the eager-execution invariant every
    caller must satisfy.  Restores the previous value on exit, even on
    error."""
    prev = spark.conf.get(_CONF)
    spark.conf.set(_CONF, str(parts))
    try:
        yield parts
    finally:
        spark.conf.set(_CONF, prev)
