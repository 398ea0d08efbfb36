"""Structured Streaming operators.

The reference consumes its point stream as a sorted directory of
chunk files (``/root/reference/code/bfr.py:431-437``) — the batch
analogue of a file-source stream. Here the same pattern is expressed
with real Structured Streaming: ``readStream`` file source →
watermarked windowed aggregation → ``Trigger.AvailableNow`` (drain
everything available, then stop — deterministic for testing, and the
exact semantics of the reference's chunk loop).

At scale: watermark bounds the window state store; ``foreachBatch``
keeps the BFR summary update incremental — each micro-batch
contributes map-side partial N/Σ/Σ² rows, so state stays O(k·d)
regardless of stream volume.

Every streaming key in the package is built from three helpers here:
``replay`` (the one file-source reader), ``drain`` (the one
AvailableNow run, which records ``LAST_PROGRESS``) and
``staged_fixture`` (the one persisted replay layout).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from contextlib import ExitStack
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tuning import drain_width, scoped_shuffle_width, scratch_dir

from ..functions.numeric import fixed_sum


def _half_away(x: float) -> float:
    """Round-half-away-from-zero on a double — what SQL ``round(x)``
    does in both Spark and DuckDB. Python's built-in ``round`` is
    banker's and must never feed a hash-gated value."""
    return float(np.floor(x + 0.5)) if x >= 0 else float(np.ceil(x - 0.5))

def replay(
    spark: SparkSession,
    path: str,
    schema=None,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """The one file-source reader: a parquet stream over ``path`` (a
    file, a directory or a glob). File-source streams need an explicit
    schema; without one it is read from the footer of the first file
    the glob matches — a batch read of one path, never of the glob
    itself (Spark probes a glob read as a literal path and logs a
    FileNotFoundException stack per read). ``files_per_trigger`` caps
    each micro-batch at that many files, which is what gives a staged
    replay its batch boundaries."""
    if schema is None:
        schema = spark.read.parquet((sorted(glob.glob(path)) or [path])[0]).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.load(path)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # normalize ts exactly as the batch reader does
    from ..sources.readers import enable_nanos_scan, ensure_utc, normalize_ts

    ensure_utc(spark)
    # same nanos defense as the batch reader — without it, a
    # TIMESTAMP(NANOS) events file would fail the schema probe (and
    # the stream scan) before normalize_ts's LONG branch could fire
    enable_nanos_scan(spark)
    # glob (not bare file path) so the file-stream source treats the
    # parent as basePath and picks up late-arriving files; the schema
    # comes from events.parquet, the glob's first match
    raw = replay(spark, f"{sf_dir}/events*.parquet")
    # Watermarks require TIMESTAMP (not TIMESTAMP_NTZ); ensure_utc
    # above pins the session tz so the cast is value-preserving even
    # under a caller-provided vanilla session on a non-UTC host.
    return normalize_ts(raw).withColumn("ts", F.col("ts").cast("timestamp"))


# name -> StreamingQueryProgress list of the most recent drain of that
# name; every drain records here (tests assert engine metrics such as
# numRowsDroppedByWatermark against oracle predictions, and perfbench
# sums the micro-batch machinery from it)
LAST_PROGRESS: dict[str, list] = {}


def drain(
    stream_df: DataFrame,
    name: str,
    sink: Callable[[DataFrame, int], None] | str | None = None,
    mode: str = "append",
    width: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """The one AvailableNow drain: run ``stream_df`` until everything
    available is processed, then record ``LAST_PROGRESS[name]``.

    - ``sink``: ``None`` is a memory sink named ``name``, returned as
      ``spark.table(name)``; a callable runs as ``foreachBatch``; a
      string is the path of a parquet file sink. The last two return
      ``None``.
    - ``width``: the shuffle width while the drain runs, by default
      ``drain_width`` — each stateful partition is one state store
      paying per-micro-batch restore/commit I/O (4 measured faster
      than 8, 8 beat 32 by ~4×). A drain whose per-row work
      dominates that cost passes a wider one.
    - ``checkpoint``: a fresh ``TemporaryDirectory`` under
      ``scratch_dir`` (tmpfs takes the per-batch metadata writes),
      unless the caller passes one that must outlive the drain — a
      restart resuming from it."""
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.queryName(name).outputMode(mode)
    if sink is None:
        writer = writer.format("memory")
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    with ExitStack() as stack:
        if checkpoint is None:
            checkpoint = stack.enter_context(
                tempfile.TemporaryDirectory(prefix="ckpt_", dir=scratch_dir())
            )
        stack.enter_context(scoped_shuffle_width(spark, width or drain_width(spark)))
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        LAST_PROGRESS[name] = list(q.recentProgress)
    return spark.table(name) if sink is None else None


def _pin_batch_mtime(path: str, b: int) -> None:
    """File-source replay order is (mtime, path): pin a staged batch
    directory (and its part files) to a deterministic stamp so
    micro-batch order is stable across filesystems. The ONE copy of
    the stamp formula — staging and cache-copying must agree."""
    stamp = (1_000_000 + b, 1_000_000 + b)
    os.utime(path, stamp)
    for part in os.listdir(path):
        os.utime(os.path.join(path, part), stamp)


def staged_fixture(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    table: str,
    columns: list,
    n: int,
    batch: Column | None = None,
) -> str:
    """The one staged-replay source: ``columns`` of ``table`` laid out
    for file-source replay and persisted once under the warehouse by
    ``ensure_fixture`` (keyed by the table's corpus version and n),
    so every session and process reuses it. The caller's per-drain state dirs stay per call.

    - ``batch=None``: ``repartition(n)`` into the fixture dir, i.e. n
      part files replayed as chunks;
    - otherwise ``batch`` gives each row its micro-batch index in
      ``0..n-1``: one single-part-file ``batch_{b:03d}.parquet`` per
      index (``files_per_trigger=1`` replays FILES, so a slice of many
      part files would split into many batches), mtime-pinned so the
      replay runs in index order."""
    from ..sources.fixtures import ensure_fixture
    from ..sources.readers import load_table

    def stage(d: str) -> None:
        base = load_table(spark, sf_dir, table).select(*columns)
        if batch is None:
            base.repartition(n).write.mode("overwrite").parquet(d)
            return
        staged = base.withColumn("_batch", batch)
        for b in range(n):
            path = os.path.join(d, f"batch_{b:03d}.parquet")
            staged.filter(F.col("_batch") == b).drop("_batch").coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            _pin_batch_mtime(path, b)

    return ensure_fixture(
        spark, kind, sf_dir, f"{table}.parquet", f"chunks={n}", stage
    )


def stream_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts per event type with a 2-hour
    watermark, drained with AvailableNow into a memory sink.
    [rows-only: streaming runtime; the batch equivalent is the
    hash-matched ``q_events_windowed``.]"""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # Integer-cents sum — double sums are partition-order-
            # dependent, so the replay oracle could mismatch by 1 cent.
            fixed_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    out = drain(agg, "stream_events_window_sink", mode="append")
    return out.orderBy("window_start", "event_type")


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 1-hour windows every 30 minutes (each event lands in
    exactly two overlapping windows — the smoothing shape tumbling
    windows can't express), 2-hour watermark, AvailableNow drain.
    Hash-gated: the oracle assigns each event its two window starts
    (time_bucket and time_bucket − 30 min) and applies the calibrated
    append-emit rule (window_end ≤ max_ts − watermark, equality
    emits) that the tumbling key established."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    out = drain(agg, "stream_sliding_window_sink", mode="append")
    return out.orderBy("window_start", "event_type")


STREAM_SLIDING_WINDOW_SQL = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
slid AS (
  SELECT event_type, value,
         time_bucket(INTERVAL 30 MINUTE, ts) - s.off * INTERVAL 30 MINUTE AS window_start
  FROM events, (SELECT unnest([0, 1]) AS off) s
)
SELECT window_start, event_type,
       count(*) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value
FROM slid GROUP BY 1, 2
HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY 1, 2
"""


def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink via ``foreachBatch`` — the production
    pattern for maintaining a serving table from a stream when the
    sink has no native streaming writer: each micro-batch aggregates
    its rows and MERGEs them into a versioned parquet state table
    (read previous version ∪ batch → re-aggregate → write next
    version — the read-modify-write every lakehouse MERGE performs,
    with versioned directories standing in for table-format
    transactions). Four deterministic staged batches (event_id % 4,
    the persisted ``upsert_slices`` fixture) replay one file per
    trigger; the per-user totals are associative, so the final state
    equals the one-shot batch aggregate REGARDLESS of batch
    boundaries — which is exactly what the oracle checks, making the
    exactly-once upsert loop itself the thing under test. The state
    dirs stay per call: they accumulate and must start empty."""
    src = staged_fixture(
        spark, sf_dir, "upsert_slices", "events", ["user_id", "event_id", "value"],
        4, batch=F.pmod("event_id", F.lit(4)),
    )
    raw = replay(spark, os.path.join(src, "batch_*.parquet"), files_per_trigger=1)
    with tempfile.TemporaryDirectory(prefix="upsert_") as root:
        state = {"dir": None}
        cents = F.round(F.col("value") * 100.0).cast("long")

        def upsert(bdf, bid):
            s = bdf.sparkSession
            agg = bdf.groupBy("user_id").agg(
                F.count("*").alias("n_events"), F.sum(cents).alias("cents")
            )
            if state["dir"] is not None:
                prev = s.read.parquet(state["dir"])
                agg = (
                    prev.unionByName(agg)
                    .groupBy("user_id")
                    .agg(
                        F.sum("n_events").alias("n_events"),
                        F.sum("cents").alias("cents"),
                    )
                )
            new_dir = os.path.join(root, f"state_v{bid}")
            agg.write.mode("overwrite").parquet(new_dir)
            state["dir"] = new_dir

        drain(raw, "stream_upsert_sink", sink=upsert)
        return (
            spark.read.parquet(state["dir"])
            .select(
                "user_id",
                "n_events",
                (F.col("cents") / 100.0).alias("total_value"),
            )
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )


STREAM_UPSERT_SINK_SQL = """
SELECT user_id, count(*) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` on event_id (the
    streaming face of exact dedup). The event-time column is not a
    dedup key, so the watermark evicts nothing: the state store keeps
    every id seen (on the seed-1 corpus, 100,000 rows after both
    micro-batches, though the events span 30 days against a 2-hour
    watermark). Emits per-type counts of the deduped stream.
    [rows-only]"""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique_events"))
    out = drain(agg, "stream_dedup_sink", mode="complete")
    return out.orderBy("event_type")


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: ``F.session_window(ts, '30 minutes')``
    — Spark's built-in gap-based session aggregation (state merges
    adjacent windows automatically; watermark evicts closed
    sessions). The declarative counterpart of
    ``stream_sessionize_stateful``. [rows-only]"""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    out = drain(agg, "stream_session_window_sink", mode="append")
    return out.orderBy("user_id", "session_start")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase
    joins the same user's clicks from the preceding hour. Watermarks
    on both sides bound the join state store (the canonical
    Structured Streaming interval-join pattern). Emits per-user
    joined counts. [rows-only; batch equivalence in tests]"""
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("p_user", "p_id", "c_id")
    out = drain(joined, "stream_stream_join_sink", mode="append")
    return (
        out.groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"), F.countDistinct("p_id").alias("n_purchases_with_click"))
        .orderBy("user_id")
    )


# The per-key state schema IS the cardinality contract of the
# stateful sessionizer: a FIXED-WIDTH tuple per user (groups
# partition horizontally; state never grows with a user's event
# count). tools/explain_audit.py's grouped-pandas contract probe
# asserts this stays fixed-width.
SESSIONIZE_STATE_SCHEMA = (
    "start_ms long, end_ms long, n_events int, session_value double"
)


def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: per-user session tracking with a
    30-minute inactivity gap and timeout-based session emission —
    the stateful-streaming face of the batch ``q_events_sessionize``.

    State per user is O(1) (current session bounds + totals); the
    state store evicts via the event-time timeout. [rows-only]"""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    gap_ms = 30 * 60 * 1000

    def track(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        if state.exists:
            start_ms, last_ms, n_events, total = state.get
        else:
            start_ms, last_ms, n_events, total = None, None, 0, 0.0
        done = []
        for ts, value in zip(rows["ts"], rows["value"]):
            t_ms = int(ts.value // 10**6)
            if last_ms is not None and t_ms - last_ms > gap_ms:
                done.append((user_id, start_ms, last_ms, n_events, total / 100.0))
                start_ms, n_events, total = t_ms, 0, 0.0
            if start_ms is None:
                start_ms = t_ms
            last_ms = t_ms
            n_events += 1
            # Integer-cents accumulation — exact, order-free, and
            # sign-correct (half away from zero, like SQL round)
            total += _half_away(float(value) * 100.0)
        state.update((start_ms, last_ms, n_events, total))
        # timeout may not be earlier than the current watermark
        state.setTimeoutTimestamp(max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1))
        if done:
            yield pd.DataFrame(
                done, columns=["user_id", "start_ms", "end_ms", "n_events", "session_value"]
            )

    out = ev.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, start_ms long, end_ms long, n_events int, session_value double",
        stateStructType=SESSIONIZE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # The per-user pandas kernel is Python-compute-bound, so unlike
    # the JVM-agg drains wider wins until the state-store fixed cost
    # catches up: measured 4→3.7 s, 8→2.7 s, 16→2.4 s, 32→2.9 s at
    # sf0.1 — cap at 16, still bounded by the session width
    from ..functions.tuning import shuffle_width

    res = drain(
        out,
        "stream_sessionize_sink",
        mode="append",
        width=min(shuffle_width(spark), 16),
    )
    return res.orderBy("user_id", "start_ms")


def stream_bfr_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster-summary maintenance over a stream: each
    micro-batch folds partial N/Σ/Σ² into per-user-bucket summaries
    via foreachBatch (the streaming face of BFR's DS update —
    reference ``SummarizedSet.update``, bfr.py:162-168).

    Returns the final summary table (bucket, n, mean_value,
    std_value). [rows-only]"""
    ev = _events_stream(spark, sf_dir)
    state: dict[int, np.ndarray] = {}

    def update(batch_df: DataFrame, batch_id: int) -> None:
        # Partials in integer cents (and cents²) so cross-batch and
        # cross-partition accumulation is exact — the double-sum
        # version could drift a hash-checked 4th decimal.
        cents = F.round(F.col("value") * 100.0).cast("long")
        part = (
            batch_df.groupBy((F.col("user_id") % 8).alias("bucket"))
            .agg(
                F.count("*").alias("n"),
                F.sum(cents).alias("s"),
                F.sum(cents * cents).alias("sq"),
            )
            .collect()
        )
        for row in part:
            acc = state.setdefault(int(row["bucket"]), np.zeros(3, dtype=np.int64))
            acc += np.array([row["n"], row["s"], row["sq"]], dtype=np.int64)

    drain(ev, "stream_bfr_update_sink", sink=update)

    def _fixed4(x: float) -> float:
        # scale-0 round at 1e-4 units, half away from zero like the
        # SQL oracle's round() (Python round() is banker's)
        return _half_away(x * 10000.0) / 10000.0

    rows = []
    for b, acc in sorted(state.items()):
        n, s, sq = (int(v) for v in acc)
        # identical op order to the SQL oracle: cents → dollars late
        mean = s * 1e0 / n / 100.0 if n else 0.0
        var = sq * 1e0 / n / 10000.0 - mean * mean if n else 0.0
        rows.append(
            {
                "bucket": b,
                "n": n,
                "mean_value": _fixed4(mean) if n else 0.0,
                "std_value": _fixed4(float(np.sqrt(max(var, 0.0)))) if n else 0.0,
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def stream_bfr_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic BFR epoch's per-round accounting as a REAL
    file-source stream — the streaming face of ``bfr_lloyd_stats``
    (plans/ml_queries.py), hash-gated by the SAME oracle. The
    embeddings table is re-staged into ``BDET_CHUNKS`` files by
    ``vec_id % chunks`` (exactly the reference's sorted chunk-file
    directory, bfr.py:431-437) and replayed in chunk order
    (``maxFilesPerTrigger=1``, mtime-pinned); each micro-batch runs
    the batch epoch's per-chunk step, ``_bdet_gate_chunk``, inside
    ``foreachBatch`` — batch 0: farthest-point seeds + Lloyd init;
    later batches: the Mahalanobis α-gate against the accumulated
    exact integer moments — and folds through the epoch's
    ``_bdet_fold``, whose per-cluster counts feed the epoch's stats
    tail. Drained output ≡
    ``bfr_lloyd_stats`` bit-for-bit (asserted in
    tests/test_streaming.py), tying the streaming DS-update face to
    the hash-gated accounting contract.

    Scale: per batch ONE map-side-combined K×(1+2d) integer-moment
    aggregation (O(k·d) driver state) — the ``stream_bfr_update``
    cost shape with the real gate."""
    from ..plans.ml_queries import (
        BDET_CHUNKS,
        BDET_SCALE,
        _bdet_fold,
        _bdet_gate_chunk,
        _bdet_moments,
        _bdet_stats_frame,
        _micro_units,
    )

    # the chunked replay source is a persisted fixture — re-staging
    # per call cost ~0.8 s of coalesce(1) write jobs at sf0.1
    src = staged_fixture(
        spark, sf_dir, "bdet_chunks", "embeddings", ["vec_id", "embedding"],
        BDET_CHUNKS, batch=F.pmod("vec_id", F.lit(BDET_CHUNKS)),
    )
    raw = replay(spark, os.path.join(src, "batch_*.parquet"), files_per_trigger=1)

    mom = _bdet_moments()
    rounds: list[dict[int, int]] = []  # in batch order

    def step(bdf: DataFrame, bid: int) -> None:
        # pinned: the init's seed and Lloyd jobs would each re-read
        # the batch file (and count it again in numInputRows)
        ch = bdf.select("vec_id", _micro_units(BDET_SCALE).alias("xi")).localCheckpoint(
            eager=True
        )
        rounds.append(_bdet_fold(mom, _bdet_gate_chunk(ch, mom, first=not rounds)))

    drain(raw, "stream_bfr_rounds_sink", sink=step)
    return _bdet_stats_frame(spark, rounds)


# ---------------- batch-equivalent oracles ----------------
#
# Every drain above uses Trigger.AvailableNow over a static file, so
# the emitted set is a deterministic function of the data and the
# final watermark (max event time − 2 h; Spark runs a no-data batch
# after the last data batch, evicting finalized state). Append-mode
# emission keeps a window/session iff its END ≤ final watermark —
# verified empirically at sf0.001 and sf0.01 — which is expressible
# in plain SQL, making the streaming family hash-checkable.

STREAM_EVENTS_WINDOW_SQL = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value
FROM events GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY 1, 2
"""

STREAM_DEDUP_SQL = """
SELECT event_type, count(DISTINCT event_id) AS n_unique_events
FROM events GROUP BY event_type ORDER BY event_type
"""

# Native session_window semantics: an event at exactly gap distance
# starts a NEW session (window end is exclusive) → gap predicate is
# ">= 30 min", unlike the batch sessionizer's "> 30 min".
STREAM_SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
), agg AS (
  SELECT user_id,
         CAST(min(ts) AS TIMESTAMP) AS session_start,
         CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events,
         sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS session_value
  FROM sessions GROUP BY user_id, session_idx
)
SELECT user_id, session_start, session_end, n_events, session_value
FROM agg
WHERE session_end <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
ORDER BY user_id, session_start
"""

STREAM_STREAM_JOIN_SQL = """
WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events WHERE event_type = 'click')
SELECT p.user_id AS user_id, count(*) AS n_pairs,
       count(DISTINCT p_id) AS n_purchases_with_click
FROM p JOIN c ON p.user_id = c.user_id
              AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
GROUP BY 1 ORDER BY 1
"""

# applyInPandasWithState emits a session only when a LATER event of
# the same user closes it (the final open session per user stays in
# state) → emitted set = every session except each user's last.
# Gap arithmetic is in floor-millis exactly like the kernel.
STREAM_SESSIONIZE_STATEFUL_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
), agg AS (
  SELECT user_id, session_idx,
         epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
         CAST(count(*) AS INT) AS n_events,
         sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS session_value
  FROM sessions GROUP BY user_id, session_idx
)
SELECT user_id, start_ms, end_ms, n_events, session_value
FROM agg
WHERE session_idx < (SELECT max(session_idx) FROM agg a2 WHERE a2.user_id = agg.user_id)
ORDER BY user_id, start_ms
"""

# Replicates the kernel's formula (sqrt(E[x²] − E[x]²)) in the
# kernel's exact op order, over the same integer cents/cents²
# accumulators, so both sides round identical doubles.
STREAM_BFR_UPDATE_SQL = """
WITH c AS (
  SELECT user_id % 8 AS bucket,
         CAST(round(value * 1e2) AS BIGINT) AS c
  FROM events
), m AS (
  SELECT bucket, count(*) AS n,
         sum(c) * 1e0 / count(*) / 100.0 AS mean,
         sum(c * c) * 1e0 / count(*) / 10000.0 AS ex2
  FROM c GROUP BY 1
)
SELECT bucket, n,
       CAST(round(mean * 1e4) AS BIGINT) / 1e4 AS mean_value,
       CAST(round(sqrt(greatest(ex2 - mean * mean, 0.0)) * 1e4) AS BIGINT) / 1e4 AS std_value
FROM m ORDER BY 1
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the purchase stream joins the
    STATIC customer dimension (user_id = c_custkey in this data) and
    aggregates revenue per market segment in complete mode — the
    canonical "enrich events with a dimension on arrival" pattern.

    Stream-static joins are STATELESS in Structured Streaming (no
    watermark, no join state store — the static side is just re-read
    per micro-batch, broadcast when small), which is exactly why
    they're the preferred enrichment shape at scale; only the
    downstream complete-mode agg keeps state, O(segments)."""
    from ..sources.readers import load_table

    ev = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(cust, "user_id")
    # streaming aggs forbid countDistinct → aggregate at (segment,
    # user) grain in the stream (state O(users)), roll up to segment
    # after the drain where distinct is just a row count
    agg = joined.groupBy("c_mktsegment", "user_id").agg(
        F.count("*").alias("n"),
        # integer-cents partial: the two-level sum stays exact
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("s"),
    )
    out = drain(agg, "stream_static_join_sink", mode="complete")
    return (
        out.groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_purchases"),
            F.count("*").alias("n_users"),
            (F.sum("s") / 100.0).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, staged so lateness actually
    happens: events are re-staged into four micro-batch files by
    calendar week (days 1-8 / 9-16 / 17-24 / 25-31), with every 25th
    event (``event_id % 25 == 0``, a 4% straggler population) held
    back two batches. The stream replays the four files in order
    (``maxFilesPerTrigger=1``, mtime-staged) through a 1-hour
    tumbling aggregation under a 30-minute watermark and drains with
    AvailableNow.

    Calibrated semantics the oracle replays exactly (verified with
    controlled micro-batch experiments on this Spark build):

    - DROP: a row arriving in micro-batch ``b`` is discarded iff its
      window END <= max event time over batches ``0..b-2`` minus the
      delay — the watermark in effect while batch ``b`` runs is the
      one committed at the END of batch ``b-1``, computed from data
      through ``b-2``. The comparison is on the window end, not the
      raw timestamp: a late row whose window is still open is merged,
      only rows for already-evicted windows are dropped.
    - EMIT (append mode): exactly the windows whose end <= final
      watermark (global max - delay; equality emits). The trailing
      partial hour never leaves the state store.

    At scale the watermark is the state-store bound: without it a
    30-day replay holds every hourly window open; with it, state is
    O(windows inside the lateness horizon) and the engine's
    numRowsDroppedByWatermark metric reports exactly the rows this
    oracle predicts as dropped.
    """
    out = _staged_replay_agg(spark, sf_dir, "stream_late_data_sink", "append")
    return out.orderBy("window_start")


def _weekly_replay(spark: SparkSession, sf_dir: str) -> str:
    """The staged weekly replay of events: four files by calendar week
    (days 1-8 / 9-16 / 17-24 / 25-31), every 25th event held back two
    batches. Three keys replay it (late_data / update_counts
    append+update drains, checkpoint_recovery's two-sitting restart,
    which file-copies its sittings from the fixture)."""
    week = F.floor((F.dayofmonth("ts") - 1) / 8).cast("int")
    return staged_fixture(
        spark, sf_dir, "staged_weekly", "events",
        ["event_id", F.col("ts").cast("timestamp").alias("ts"), "value"], 4,
        batch=F.when(F.col("event_id") % 25 == 0, F.least(week + 2, F.lit(3))).otherwise(week),
    )


def _copy_staged_batches(src_dir: str, dst_dir: str, batches) -> None:
    """Copy staged batch files between replay dirs, re-pinning the
    mtimes that make file-source replay order deterministic (copying
    resets mtimes, so the stamps must be re-applied)."""
    for b in batches:
        name = f"batch_{b:03d}.parquet"
        dst = os.path.join(dst_dir, name)
        shutil.copytree(os.path.join(src_dir, name), dst)
        _pin_batch_mtime(dst, b)


def _hourly_agg(raw: DataFrame) -> DataFrame:
    """The shared 1-hour tumbling / 30-min watermark aggregation over
    a staged replay stream."""
    return (
        raw.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def _staged_replay_agg(
    spark: SparkSession, sf_dir: str, sink: str, mode: str
) -> DataFrame:
    """The shared windowed aggregation over the staged 4-batch replay,
    drained in the given output mode. The drain only READS the
    persisted fixture, so sharing it is safe."""
    src = os.path.join(_weekly_replay(spark, sf_dir), "batch_*.parquet")
    return drain(_hourly_agg(replay(spark, src, files_per_trigger=1)), sink, mode=mode)


def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE checkpoint recovery: the staged 4-file replay is
    processed in TWO separate streaming queries sharing one
    checkpoint and one parquet FILE SINK — phase 1 sees only files
    0-1, drains with AvailableNow and stops (a controlled "crash"
    after two micro-batches); phase 2 starts a fresh query on the
    same checkpoint after files 2-3 appear, resumes from the stored
    offsets + watermark + window state, and drains the rest. The
    result is the file sink's contents: any duplicate emission,
    reprocessed batch, or state loss across the restart would break
    the hash against the oracle.

    Restart changes exactly one thing vs the single-run replay
    (calibrated empirically): phase 1's final no-data batch commits
    the watermark through file 1, so BOTH post-restart files see the
    drop threshold max_ts(files 0-1) − delay (in the single run,
    file 2's threshold lagged one batch further at max_ts(file 0) −
    delay). The oracle encodes that collapsed-lag rule; emission is
    unchanged (window end ≤ global max − delay — the file-sink
    commit log makes the append exactly-once across the restart)."""
    with (
        tempfile.TemporaryDirectory(prefix="recovery_") as stage_dir,
        tempfile.TemporaryDirectory(prefix="ckpt_", dir=scratch_dir()) as ck,
    ):
        out = os.path.join(stage_dir, "out")
        src = os.path.join(stage_dir, "batch_*.parquet")
        # two sittings copied from the persisted staging: phase 1 must
        # see ONLY files 0-1, so copy incrementally
        cached = _weekly_replay(spark, sf_dir)
        for batches in ([0, 1], [2, 3]):
            _copy_staged_batches(cached, stage_dir, batches)
            raw = replay(spark, src, files_per_trigger=1)
            drain(_hourly_agg(raw), "stream_checkpoint_recovery_sink", sink=out, checkpoint=ck)
        # pin the sink table on executors before the staging dir dies
        # (eager localCheckpoint, not a driver collect — the hourly
        # window table is calendar-bounded but there is no reason to
        # round-trip it through the driver)
        return (
            spark.read.parquet(out)
            .select(
                F.col("window_start").cast("timestamp"),
                F.col("n_events").cast("bigint"),
                F.col("total_value").cast("double"),
            )
            .orderBy("window_start")
            .localCheckpoint(eager=True)
        )


STREAM_CHECKPOINT_RECOVERY_SQL = """
WITH base AS (
  SELECT event_id, ts, value,
         CASE WHEN event_id % 25 = 0
              THEN LEAST(CAST(floor((date_part('day', ts) - 1) / 8) AS INT) + 2, 3)
              ELSE CAST(floor((date_part('day', ts) - 1) / 8) AS INT)
         END AS batch
  FROM events
),
-- collapsed-lag threshold: phase 1's final commit advances the
-- watermark through file 1, so BOTH restarted files (2 and 3) drop
-- against max_ts(files 0-1) - delay
th AS (
  SELECT max(ts) - INTERVAL 30 MINUTE AS thresh FROM base WHERE batch <= 1
),
kept AS (
  SELECT b.ts, b.value
  FROM base b, th
  WHERE b.batch <= 1
     OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > th.thresh
),
fin AS (SELECT max(ts) - INTERVAL 30 MINUTE AS fwm FROM base)
SELECT date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value
FROM kept, fin
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= fwm
GROUP BY 1 ORDER BY window_start
"""


def stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode emission semantics over the same staged 4-batch
    replay as ``stream_late_data``: the memory sink accumulates one
    row per (window, micro-batch in which the window received at
    least one non-dropped row), carrying the CUMULATIVE aggregate at
    that point — the changelog a downstream upsert sink (foreachBatch
    MERGE) would consume. Late rows follow the same calibrated drop
    rule; unlike append mode there is NO final-watermark emission
    filter — every change is visible immediately, including the
    trailing partial hour (verified empirically: a window updated in
    three batches emits three rows with growing counts).

    The oracle replays the changelog exactly: per (window, batch)
    kept-row deltas, cumulated over batches.

    At scale, update mode is the low-latency choice (results visible
    per batch, state still watermark-bounded); append is the
    exactly-once-per-window choice. This pair demonstrates both from
    one staged replay."""
    out = _staged_replay_agg(spark, sf_dir, "stream_update_counts_sink", "update")
    return out.orderBy("window_start", "n_events")


STREAM_UPDATE_COUNTS_SQL = """
WITH base AS (
  SELECT event_id, ts, value,
         CASE WHEN event_id % 25 = 0
              THEN LEAST(CAST(floor((date_part('day', ts) - 1) / 8) AS INT) + 2, 3)
              ELSE CAST(floor((date_part('day', ts) - 1) / 8) AS INT)
         END AS batch
  FROM events
),
-- ALL 4 staged batch indices, not just the non-empty ones: the file
-- source replays an empty staged file as a real (no-data) micro-batch
-- that still commits a watermark, so the 2-batch lag is positional
-- over 0..3 — computing it over only row-bearing batches skips
-- indices and under-advances the modeled watermark on degenerate
-- streams (e.g. a 2-day corpus where weeks 1 and 3 are empty)
bmax AS (
  SELECT gs.b AS batch, max(base.ts) AS mx
  FROM generate_series(0, 3) gs(b) LEFT JOIN base ON base.batch = gs.b
  GROUP BY gs.b
),
th AS (
  SELECT batch,
         max(mx) OVER (ORDER BY batch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL 30 MINUTE AS thresh
  FROM bmax
),
kept AS (
  SELECT b.ts, b.value, b.batch
  FROM base b JOIN th ON b.batch = th.batch
  WHERE th.thresh IS NULL
     OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > th.thresh
),
wb AS (
  SELECT date_trunc('hour', ts) AS ws, batch,
         count(*) AS dn,
         sum(CAST(round(value * 1e2) AS BIGINT)) AS dv
  FROM kept GROUP BY 1, 2
)
SELECT ws AS window_start,
       CAST(sum(dn) OVER w AS BIGINT) AS n_events,
       sum(dv) OVER w / 1e2 AS total_value
FROM wb
WINDOW w AS (PARTITION BY ws ORDER BY batch ROWS UNBOUNDED PRECEDING)
ORDER BY window_start, n_events
"""


STREAM_LATE_DATA_SQL = """
WITH base AS (
  SELECT event_id, ts, value,
         CASE WHEN event_id % 25 = 0
              THEN LEAST(CAST(floor((date_part('day', ts) - 1) / 8) AS INT) + 2, 3)
              ELSE CAST(floor((date_part('day', ts) - 1) / 8) AS INT)
         END AS batch
  FROM events
),
-- all 4 staged batch indices (see STREAM_UPDATE_COUNTS_SQL): empty
-- staged files still occupy a micro-batch index in the engine
bmax AS (
  SELECT gs.b AS batch, max(base.ts) AS mx
  FROM generate_series(0, 3) gs(b) LEFT JOIN base ON base.batch = gs.b
  GROUP BY gs.b
),
th AS (
  SELECT batch,
         max(mx) OVER (ORDER BY batch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL 30 MINUTE AS thresh
  FROM bmax
),
kept AS (
  SELECT b.ts, b.value
  FROM base b JOIN th ON b.batch = th.batch
  WHERE th.thresh IS NULL
     OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > th.thresh
),
fin AS (SELECT max(ts) - INTERVAL 30 MINUTE AS fwm FROM base)
SELECT date_trunc('hour', ts) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value
FROM kept, fin
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= fwm
GROUP BY 1 ORDER BY window_start
"""


STREAM_STATIC_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS revenue
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY c_mktsegment
"""
