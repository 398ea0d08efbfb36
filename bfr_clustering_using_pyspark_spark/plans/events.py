"""Event-stream analytics plans (batch forms; streaming variants live
in ``streaming/``).

All window/sessionization logic partitions by ``user_id`` — at 100 TB
the shuffle is one hash exchange on the user key, and every
subsequent per-user window reuses that partitioning (Catalyst elides
repeat exchanges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import fixed_point, fixed_sum
from ..sources.readers import load_table

SESSION_GAP_MIN = 30


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: event counts + value sums per type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("window_start", "event_type")
    )


Q_EVENTS_WINDOWED_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity ends a session).

    lag → new-session flag → cumulative sum = session index; then one
    row per session with bounds and totals.
    """
    ev = load_table(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional epoch seconds, as the oracle's epoch(ts): a long cast
    # would truncate to whole seconds and read a 1800.5 s gap as 1800
    secs = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    flagged = ev.withColumn(
        "new_session",
        F.when(secs - F.lag(secs).over(w_user) > SESSION_GAP_MIN * 60, 1)
        .when(F.lag("ts").over(w_user).isNull(), 1)
        .otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(w_user.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            # Integer-cents sum: double summation is partition-order-
            # dependent, so the rounded total can flip vs the oracle.
            fixed_sum(F.col("value")).alias("session_value"),
        )
        .orderBy("user_id", "session_idx")
    )


Q_EVENTS_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60} THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       sum(CAST(round(value * 1e2) AS BIGINT)) / 1e2 AS session_value
FROM sessions GROUP BY user_id, session_idx ORDER BY user_id, session_idx
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → view → purchase funnel: per-stage user counts.

    Stage timestamps via conditional min-aggregation per user (one
    shuffle), then a tiny scalar aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.col("t_signup")).alias("n_signup"),
        F.count(F.when(F.col("t_view") > F.col("t_signup"), 1)).alias("n_signup_then_view"),
        F.count(
            F.when(
                (F.col("t_view") > F.col("t_signup")) & (F.col("t_purchase") > F.col("t_view")), 1
            )
        ).alias("n_full_funnel"),
    )


Q_EVENTS_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(t_signup) AS n_signup,
       count(CASE WHEN t_view > t_signup THEN 1 END) AS n_signup_then_view,
       count(CASE WHEN t_view > t_signup AND t_purchase > t_view THEN 1 END) AS n_full_funnel
FROM per_user
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value over time (bounded to purchases)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            # Window sums over doubles are engine-dependent too (DuckDB
            # uses a segment tree, which reorders additions) — sum
            # integer cents over the window instead.
            (F.sum(F.round(F.col("value") * 100.0).cast("long")).over(w) / 100.0).alias(
                "running_value"
            ),
            F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")).alias("purchase_seq"),
        )
        .orderBy("user_id", "purchase_seq")
    )


Q_RUNNING_TOTAL_SQL = """
SELECT user_id, event_id, ts,
       sum(CAST(round(value * 1e2) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) / 1e2 AS running_value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS purchase_seq
FROM events WHERE event_type = 'purchase'
ORDER BY user_id, purchase_seq
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    tracked by distinct-active count per week offset, with the share
    of the cohort still active.

    Cohort = first week the user appears at all; "active" = weeks
    with a PURCHASE (any-event activity is saturated in this data —
    every user fires events weekly — so purchases give the matrix its
    decay). Two aggregations on the same user-key shuffle (first-seen,
    then per-(cohort, week) distinct users) and a cohort-size join
    that is broadcastable at any data scale — cohorts are calendar
    weeks, so that side grows with TIME, not with data volume."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.floor(F.datediff(F.col("week"), F.col("cohort_week")) / 7)).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    cohort_size = (
        first_seen.groupBy("cohort_week").agg(F.countDistinct("user_id").alias("cohort_users"))
    )
    return (
        active.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_users",
            # fixed-point, not round(x,4): integer-ratio decimal ties (the
            # fuzz-1201 q_key_skew_profile class) diverge across engines
            fixed_point(F.col("n_active") / F.col("cohort_users"), 4).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


Q_EVENTS_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
), first_seen AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
), active AS (
  SELECT cohort_week,
         CAST(floor(date_diff('day', cohort_week, week) / 7.0) AS INT) AS week_offset,
         count(DISTINCT ev.user_id) AS n_active
  FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
  WHERE ev.event_type = 'purchase'
  GROUP BY 1, 2
), size_ AS (
  SELECT cohort_week, count(DISTINCT user_id) AS cohort_users FROM first_seen GROUP BY 1
)
SELECT a.cohort_week, week_offset, n_active, cohort_users,
       CAST(round((n_active * 1e0 / cohort_users) * 1e4) AS BIGINT) / 1e4 AS retention
FROM active a JOIN size_ s ON a.cohort_week = s.cohort_week
ORDER BY a.cohort_week, week_offset
"""


ANOMALY_TRAIL = 10  # trailing purchases in the baseline window
ANOMALY_MIN_N = 5  # need this many priors before scoring
ANOMALY_Z = 2.0


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly detection: flag purchases whose value is >2
    sample-stddevs from that user's trailing-10-purchase baseline
    (min 5 priors). The standard online fraud/telemetry outlier
    screen, expressed as one window pass.

    Scale: a single hash-shuffle on user_id, then sort-within-
    partition; the frame is bounded (10 rows) so state per row is
    O(1) and the whole thing stays in whole-stage codegen — no
    self-join against a baseline table, which is the naive two-pass
    formulation.

    Cross-engine determinism: window SUMS run in exact integer cents
    (float summation order differs between engines — Spark re-scans
    sliding frames, DuckDB uses segment trees — so sum(double) can
    drift an ulp and flip a rounded digit); avg and sample variance
    are then derived from the exact integer sums, and membership is
    decided on the rounded z-score."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    trail = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOMALY_TRAIL, -1)
    )
    scored = ev.select(
        "user_id",
        "event_id",
        "ts",
        cents.alias("c"),
        F.count(cents).over(trail).alias("n_base"),
        F.sum(cents).over(trail).alias("s1"),
        F.sum(cents * cents).over(trail).alias("s2"),
    )
    n, s1, s2 = F.col("n_base"), F.col("s1"), F.col("s2")
    # scale-0 fixed-point rounding throughout: round(x, k>=1) on a
    # derived ratio is engine-divergent on decimal ties (s1/800 has
    # an exact ...5 at the 5th digit — flipped rows at sf0.1), while
    # scale-0 round of x*10^k agrees everywhere. Op order mirrors
    # the oracle SQL token for token.
    base_avg = F.round(s1 * 100.0 / n).cast("long") / 1e4
    # sample variance in cents² from exact integer sums, then →
    # currency units; sqrt/division of identical doubles is IEEE-
    # deterministic on both engines
    var_c2 = (n * s2 - s1 * s1) / (n * (n - 1))
    base_std = F.round(F.sqrt(var_c2) * 100.0).cast("long") / 1e4
    value = F.col("c") / 100.0  # exact cents → dyadic-safe division
    z = F.when(
        base_std > 0, F.round((value - base_avg) / base_std * 1000.0).cast("long") / 1e3
    )
    return (
        scored.filter(n >= ANOMALY_MIN_N)
        .select(
            "user_id",
            "event_id",
            "ts",
            value.alias("value"),
            base_avg.alias("base_avg"),
            base_std.alias("base_std"),
            z.alias("z"),
        )
        .filter((F.col("base_std") > 0) & (F.abs(F.col("z")) > ANOMALY_Z))
        .orderBy("user_id", "ts", "event_id")
    )


Q_EVENTS_ANOMALY_SQL = f"""
WITH scored AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS c,
         count(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS n_base,
         sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS s1,
         sum(CAST(round(value * 100, 0) AS BIGINT) * CAST(round(value * 100, 0) AS BIGINT)) OVER w AS s2
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ANOMALY_TRAIL} PRECEDING AND 1 PRECEDING)
), derived AS (
  -- scale-0 fixed-point rounds (see the Spark plan): round(x, k>=1)
  -- diverges across engines on decimal ties of these ratios
  SELECT user_id, event_id, ts,
         c / 100.0 AS value,
         CAST(round(s1 * 1e2 / n_base) AS BIGINT) / 1e4 AS base_avg,
         CAST(round(sqrt((n_base * s2 - s1 * s1) * 1e0 / (n_base * (n_base - 1))) * 1e2) AS BIGINT) / 1e4 AS base_std
  FROM scored WHERE n_base >= {ANOMALY_MIN_N}
), zed AS (
  SELECT *, CASE WHEN base_std > 0
                 THEN CAST(round((value - base_avg) / base_std * 1e3) AS BIGINT) / 1e3
            END AS z
  FROM derived
)
SELECT user_id, event_id, ts, value, base_avg, base_std, z
FROM zed
WHERE base_std > 0 AND abs(z) > {ANOMALY_Z}
ORDER BY user_id, ts, event_id
"""


MAD_K = 3.0  # flag beyond 3 robust sigmas
MAD_SIGMA = 1.4826  # MAD → sigma for a normal distribution


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per event type via median absolute
    deviation — the screen that, unlike z-scores, does not let the
    outliers inflate their own threshold. Per type: median, MAD,
    the 3-robust-sigma cutoff, and how many events exceed it.

    Two grouped exact-percentile passes (median, then MAD on
    residuals) with the per-type scalars joined back broadcast —
    group count is catalog-sized (event types), so the joins never
    shuffle the fact side twice for them."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.round(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5), 4).alias("mad")
    )
    cutoff = F.round(F.col("med") + MAD_K * MAD_SIGMA * F.col("mad"), 4)
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .select("event_type", "value", "med", "mad", cutoff.alias("cutoff"))
        .groupBy("event_type", "med", "mad", "cutoff")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("value") > F.col("cutoff")).cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


SKEW_KEYS = 50  # dim cardinality; key 0 carries ~80% of the fact


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key join: 80% of events land on ONE join key (the
    hot-partition shape that stalls a sort-merge join at 100 TB —
    one straggler task processes most of the data). The plan forces
    SMJ (no broadcast escape hatch) so AQE's skew-join split is the
    mechanism that saves it: at runtime the oversized partition is
    divided among many reader tasks, bit-identically. Tests execute
    this plan under aggressive skew thresholds and assert the
    executed plan carries the ``skew=true`` split; the hash gate
    proves the result is the same regardless.

    The dim side is generated in-plan (``spark.range`` → oracle
    ``generate_series``), so the key is fully replayable. The fact
    side is round-robin repartitioned first: the AQE skew reader
    splits a hot reduce partition along MAPPER boundaries, and the
    single-row-group toy parquet yields one mapper — the repartition
    stands in for the thousands of input splits a real corpus has
    (at 100 TB it is unnecessary and would be dropped)."""
    ev = load_table(spark, sf_dir, "events")
    fact = ev.repartition(8).select(
        F.when(F.col("event_id") % 10 < 8, F.lit(0))
        .otherwise(F.pmod("event_id", F.lit(SKEW_KEYS)))
        .cast("long")
        .alias("sk"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    dim = spark.range(SKEW_KEYS).select(
        F.col("id").alias("sk"), (F.col("id") * 7 % 13).alias("grp")
    )
    joined = fact.join(dim.hint("merge"), "sk")
    return (
        joined.groupBy("grp")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("cents") / 100.0).alias("total_value"),
            F.countDistinct("sk").alias("n_keys"),
        )
        .orderBy("grp")
    )


Q_SKEW_JOIN_SQL = f"""
WITH dim AS (
  SELECT i AS sk, (i * 7) % 13 AS grp FROM generate_series(0, {SKEW_KEYS - 1}) t(i)
), fact AS (
  SELECT CASE WHEN event_id % 10 < 8 THEN 0 ELSE event_id % {SKEW_KEYS} END AS sk,
         CAST(round(value * 1e2) AS BIGINT) AS cents
  FROM events
)
SELECT grp, count(*) AS n_events,
       sum(cents) / 1e2 AS total_value,
       CAST(count(DISTINCT sk) AS BIGINT) AS n_keys
FROM fact JOIN dim USING (sk)
GROUP BY grp ORDER BY grp
"""


def _rank_median(spark, ranked, cnts, v_col: str, out: str):
    """round(median, 4) per event_type from a grouped-rank DataFrame:
    join the two needed ranked rows per group (broadcast) and
    interpolate v_lo + frac·(v_hi − v_lo). ``cnts`` is the
    catalog-bounded (type → n) list."""
    import math

    need = []
    for et, n_g in cnts:
        pos = 0.5 * (n_g - 1)  # exactly representable halves
        lo0 = math.floor(pos)
        need.append((et, lo0 + 1, min(lo0 + 2, n_g), pos - lo0))
    need_df = spark.createDataFrame(
        need, "event_type string, lo_rk long, hi_rk long, frac double"
    )
    hit = ranked.join(
        F.broadcast(need_df),
        (ranked["event_type"] == need_df["event_type"])
        & ((F.col("_grank") == F.col("lo_rk")) | (F.col("_grank") == F.col("hi_rk"))),
    ).select(need_df["event_type"], "lo_rk", "hi_rk", "frac", "_grank", v_col)
    return (
        hit.groupBy("event_type", "frac")
        .agg(
            F.max(F.when(F.col("_grank") == F.col("lo_rk"), F.col(v_col))).alias("v1"),
            F.max(F.when(F.col("_grank") == F.col("hi_rk"), F.col(v_col))).alias("v2"),
        )
        .select(
            "event_type",
            F.round(
                F.col("v1") + F.col("frac") * (F.col("v2") - F.col("v1")), 4
            ).alias(out),
        )
    )


def q_mad_outliers_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAD outlier screen with DISTRIBUTED-RANK exact medians —
    the exact-at-scale face of ``q_mad_outliers``: Spark's
    ``percentile`` buffers every group value in one task's heap,
    while this computes each median as the interpolated value at the
    middle rank via ``operators.ranking.grouped_rank`` (deterministic
    literal-cut buckets, per-(group, bucket) windows, broadcast
    prefix offsets). Two ranking passes — values, then absolute
    residuals — mirror the exact key's two percentile passes; no
    task ever buffers a group. The oracle replays the identical
    rank-and-interpolate arithmetic, so the hash gate compares
    bitwise-identical formulas."""
    from ..operators.ranking import grouped_rank

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    cnts = sorted(
        (r["event_type"], r["n"])
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    )
    r1 = grouped_rank(
        ev, ["event_type"], [F.col("value"), F.col("event_id")], F.col("value")
    )
    med = _rank_median(spark, r1, cnts, "value", "med")
    res = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("resid"), "event_id"
    )
    r2 = grouped_rank(
        res, ["event_type"], [F.col("resid"), F.col("event_id")], F.col("resid")
    )
    mad = _rank_median(spark, r2, cnts, "resid", "mad")
    cutoff = F.round(F.col("med") + MAD_K * MAD_SIGMA * F.col("mad"), 4)
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select("event_type", "value", "med", "mad", cutoff.alias("cutoff"))
        .groupBy("event_type", "med", "mad", "cutoff")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("value") > F.col("cutoff")).cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


Q_MAD_OUTLIERS_DIST_SQL = f"""
WITH cnt AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1
), need AS (
  SELECT event_type, n,
         CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 AS lo_rk,
         least(CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 2, n) AS hi_rk,
         CAST(0.5 AS DOUBLE) * (n - 1) - floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS frac
  FROM cnt
), r1 AS (
  SELECT event_type, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk
  FROM events
), medv AS (
  SELECT nd.event_type,
         round(max(CASE WHEN rk = lo_rk THEN v END)
               + max(frac) * (max(CASE WHEN rk = hi_rk THEN v END)
                              - max(CASE WHEN rk = lo_rk THEN v END)), 4) AS med
  FROM need nd JOIN r1 ON r1.event_type = nd.event_type AND (rk = lo_rk OR rk = hi_rk)
  GROUP BY 1
), res AS (
  SELECT e.event_type, abs(e.value - m.med) AS resid, e.event_id
  FROM events e JOIN medv m USING (event_type)
), r2 AS (
  SELECT event_type, resid AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY resid, event_id) AS rk
  FROM res
), madv AS (
  SELECT nd.event_type,
         round(max(CASE WHEN rk = lo_rk THEN v END)
               + max(frac) * (max(CASE WHEN rk = hi_rk THEN v END)
                              - max(CASE WHEN rk = lo_rk THEN v END)), 4) AS mad
  FROM need nd JOIN r2 ON r2.event_type = nd.event_type AND (rk = lo_rk OR rk = hi_rk)
  GROUP BY 1
), cut AS (
  SELECT m.event_type, m.med, d.mad,
         round(m.med + {MAD_K} * {MAD_SIGMA} * d.mad, 4) AS cutoff
  FROM medv m JOIN madv d USING (event_type)
)
SELECT e.event_type, med, mad, cutoff,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN e.value > cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN cut USING (event_type)
GROUP BY 1, 2, 3, 4 ORDER BY e.event_type
"""


MAD_APPROX_ACC = 10000


def q_mad_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAD outlier screen with SKETCHED medians — the scale face
    of ``q_mad_outliers``: Spark's exact ``percentile`` buffers every
    group value in one task's heap, while ``approx_percentile``
    (Greenwald-Khanna) keeps O(acc·log n) mergeable state per task
    and combines map-side. Same two-pass shape (median, then MAD of
    residuals) and the same output contract; rank error ≤ n/accuracy.
    Tests pin med/mad within 1% and the outlier count within 5% of
    the exact key at sf0.1. [rows-only: DuckDB's approx_quantile is
    a different sketch, so no cross-engine hash can exist]"""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr(f"approx_percentile(value, 0.5, {MAD_APPROX_ACC})"), 4).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.round(
            F.expr(f"approx_percentile(abs(value - med), 0.5, {MAD_APPROX_ACC})"), 4
        ).alias("mad")
    )
    cutoff = F.round(F.col("med") + MAD_K * MAD_SIGMA * F.col("mad"), 4)
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .select("event_type", "value", "med", "mad", cutoff.alias("cutoff"))
        .groupBy("event_type", "med", "mad", "cutoff")
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("value") > F.col("cutoff")).cast("long")).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


Q_MAD_OUTLIERS_SQL = f"""
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
  FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type, round(quantile_cont(abs(value - med), 0.5), 4) AS mad
  FROM events e JOIN med ON e.event_type = med.event_type GROUP BY 1
)
SELECT e.event_type, med, mad,
       round(med + {MAD_K} * {MAD_SIGMA} * mad, 4) AS cutoff,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN value > round(med + {MAD_K} * {MAD_SIGMA} * mad, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med ON e.event_type = med.event_type
JOIN mad ON e.event_type = mad.event_type
GROUP BY e.event_type, med, mad, cutoff
ORDER BY e.event_type
"""


def q_path_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 15 most common 3-step event-type
    sequences users actually walk (click>view>purchase, …), with how
    many distinct users walk each. Two lead() calls on the per-user
    time-ordered window — one user_id shuffle, sequences formed
    in-row, no self-joins — then a path-keyed count."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    steps = ev.select(
        "user_id",
        path.alias("path"),
        F.lead("event_type", 2).over(w).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return (
        steps.groupBy("path")
        .agg(F.count("*").alias("n_walks"), F.countDistinct("user_id").alias("n_users"))
        .orderBy(F.desc("n_walks"), "path")
        .limit(15)
    )


Q_PATH_3GRAMS_SQL = """
WITH steps AS (
  SELECT user_id,
         event_type || '>' || lead(event_type, 1) OVER w || '>' || lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS _last
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, CAST(count(*) AS BIGINT) AS n_walks,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM steps WHERE _last IS NOT NULL
GROUP BY path ORDER BY n_walks DESC, path LIMIT 15
"""


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on purchase-value
    distributions between the two md5 experiment arms (same
    replayable split as ``q_ab_test``): D = max |ECDF_A - ECDF_B|,
    computed EXACTLY as max |cumA*nB - cumB*nA| over the distinct
    value grid — all BIGINT, so the statistic is hash-reproducible
    to the last bit; the reported ``ks_stat`` is the 1e-6
    fixed-point quotient and the 5% decision uses the asymptotic
    c(α)=1.358 threshold. An A/A split, so rejecting would indicate
    pipeline bias, not effect.

    Scale: the groupBy compresses 100 TB of events onto the distinct
    value grid (integer cents — bounded domain), and the ECDF window
    runs over grid rows only. The exact integer cross-product
    d*1e6 needs BIGINT headroom: fine to ~3e9 rows per arm
    (nA*nB*1e6 < 2^63); beyond that, move the quotient to DECIMAL.

    One value-grid shuffle + one broadcast of the 1-row totals."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 2
    )
    g = (
        ev.select(arm.alias("arm"), F.round(F.col("value") * 100.0).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("cb"),
        )
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = g.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    stats = cum.agg(
        F.max(F.col("cum_a")).alias("n_a"),  # final cumsum = arm total
        F.max(F.col("cum_b")).alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(stats))
        .select(
            "n_a",
            "n_b",
            F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")).alias("dn"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("dn").alias("d_num"))
    )
    return d.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        (F.expr("d_num * 1000000L div (n_a * n_b)").cast("long") / 1000000.0).alias("ks_stat"),
        (
            F.col("d_num") / (F.col("n_a") * F.col("n_b"))
            > 1.358 * F.sqrt((F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b")))
        ).alias("reject_5pct"),
    )


Q_KS_TEST_SQL = """
WITH tagged AS (
  SELECT CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS BIGINT) AS arm,
         CAST(round(value * 1e2) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
g AS (
  SELECT cents,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS cb
  FROM tagged GROUP BY cents
),
cum AS (
  SELECT CAST(sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
  FROM g
),
tot AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM cum),
d AS (
  SELECT n_a, n_b, max(abs(cum_a * n_b - cum_b * n_a)) AS d_num
  FROM cum, tot GROUP BY n_a, n_b
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(d_num AS BIGINT) AS d_num,
       CAST(d_num * 1000000 // (n_a * n_b) AS BIGINT) / 1e6 AS ks_stat,
       d_num * 1e0 / (n_a * n_b)
         > 1.358 * sqrt((n_a + n_b) * 1e0 / (n_a * n_b)) AS reject_5pct
FROM d
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into two arms by a
    DETERMINISTIC md5 hash (the assignment is replayable — rand()
    splits aren't auditable), conversion = user made ≥1 purchase;
    output per-arm rates plus the pooled two-proportion z statistic
    and a |z| > 1.96 significance flag. The md5 split is independent
    of behavior, so the expected true effect is zero — a permanent
    A/A sanity check that the testing pipeline itself is unbiased.

    One groupBy(user) pass → two-row aggregate → closed-form stats
    in the plan; nothing leaves the cluster but six numbers."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 2
    )
    # conversion = "high-value purchaser" (> $180 max purchase) —
    # every user in this data purchases eventually, so plain
    # any-purchase conversion saturates at 100% (zero variance)
    per_user = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 180)).cast("int")
        ).alias("converted")
    ).select(arm.alias("arm"), "converted")
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_converted")
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_converted").alias("c0")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("n1"), F.col("n_converted").alias("c1")
    )
    j = a.crossJoin(b)
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    # scale-0 fixed rounding: round(k/n, 4) on a ratio of ints is
    # engine-divergent when the decimal expansion ties at digit 5
    # (the q_events_anomaly sf0.1 class); arm sizes are arbitrary
    # ints, so don't gamble
    z = F.round((p0 - p1) / se * 10000.0).cast("long") / 1e4
    return j.select(
        "n0",
        "c0",
        (F.round(F.col("c0") * 10000.0 / F.col("n0")).cast("long") / 1e4).alias("rate_a"),
        "n1",
        "c1",
        (F.round(F.col("c1") * 10000.0 / F.col("n1")).cast("long") / 1e4).alias("rate_b"),
        z.alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )


Q_AB_TEST_SQL = """
WITH per_user AS (
  SELECT ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c
  FROM per_user GROUP BY arm
), j AS (
  SELECT a.n AS n0, a.c AS c0, b.n AS n1, b.c AS c1
  FROM (SELECT n, c FROM arms WHERE arm = 0) a, (SELECT n, c FROM arms WHERE arm = 1) b
)
SELECT n0, c0, CAST(round(c0 * 1e4 / n0) AS BIGINT) / 1e4 AS rate_a,
       n1, c1, CAST(round(c1 * 1e4 / n1) AS BIGINT) / 1e4 AS rate_b,
       CAST(round((c0 * 1e0 / n0 - c1 * 1e0 / n1)
             / sqrt((c0 + c1) * 1e0 / (n0 + n1) * (1 - (c0 + c1) * 1e0 / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)) * 1e4) AS BIGINT) / 1e4 AS z_stat,
       abs(CAST(round((c0 * 1e0 / n0 - c1 * 1e0 / n1)
             / sqrt((c0 + c1) * 1e0 / (n0 + n1) * (1 - (c0 + c1) * 1e0 / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)) * 1e4) AS BIGINT) / 1e4) > 1.96 AS significant
FROM j
"""


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, first view → first
    purchase delay; reported as user counts plus p50/p90/max hours —
    the funnel-speed metric next to ``q_events_funnel``'s volume one.
    One groupBy(user) pass (two conditional mins), then a tiny
    percentile aggregate. Timestamps compare in floor-millis, which
    both engines reach identically from their native precisions
    (micros in Spark, nanos in DuckDB)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_millis(F.col("ts").cast("timestamp")))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_millis(F.col("ts").cast("timestamp")))
        ).alias("first_buy"),
    )
    conv = per_user.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") > F.col("first_view"))
    ).select(((F.col("first_buy") - F.col("first_view")) / 3600000.0).alias("hours"))
    return conv.agg(
        F.count("*").alias("n_converting_users"),
        F.round(F.percentile("hours", 0.5), 3).alias("p50_hours"),
        F.round(F.percentile("hours", 0.9), 3).alias("p90_hours"),
        F.round(F.max("hours"), 3).alias("max_hours"),
    )


Q_TIME_TO_CONVERT_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS first_buy
  FROM events GROUP BY user_id
), conv AS (
  SELECT (first_buy - first_view) / 3600000.0 AS hours
  FROM per_user
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL AND first_buy > first_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converting_users,
       round(quantile_cont(hours, 0.5), 3) AS p50_hours,
       round(quantile_cont(hours, 0.9), 3) AS p90_hours,
       round(max(hours), 3) AS max_hours
FROM conv
"""


def q_time_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame (vs ``q_moving_avg``'s ROWS
    frame): per event, the count and integer-cents value sum of all
    same-type events in the trailing 6 HOURS of the same calendar
    day. The frame is defined on the time axis (``RANGE BETWEEN
    INTERVAL``), so tied timestamps are peers — every row with the
    same instant shares one frame, which ROWS frames cannot express.

    Spark has no interval literal for range frames; the equivalent is
    a ``rangeBetween`` over ``unix_micros(ts)`` with the interval in
    microseconds — bit-identical bounds to the oracle's
    ``RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW``.

    Scale: partitioning by (event_type, calendar day) keeps window
    partitions bounded and their COUNT growing with time, not data
    volume — a per-type global window would funnel 100 TB through
    |types| tasks."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type", F.to_date("ts"))
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-6 * 3600 * 1_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            F.count("*").over(w).alias("n_6h"),
            (
                F.sum(F.round(F.col("value") * 100.0).cast("long")).over(w)
                / 100.0
            ).alias("v_6h"),
        )
        .orderBy("event_id")
    )


Q_TIME_RANGE_AGG_SQL = """
SELECT event_id, event_type,
       CAST(count(*) OVER w AS BIGINT) AS n_6h,
       sum(CAST(round(value * 1e2) AS BIGINT)) OVER w / 1e2 AS v_6h
FROM events
WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE) ORDER BY ts
             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


QUERIES = {
    "q_events_windowed": q_events_windowed,
    "q_time_range_agg": q_time_range_agg,
    "q_events_anomaly": q_events_anomaly,
    "q_mad_outliers": q_mad_outliers,
    "q_mad_outliers_approx": q_mad_outliers_approx,
    "q_mad_outliers_dist": q_mad_outliers_dist,
    "q_skew_join": q_skew_join,
    "q_path_3grams": q_path_3grams,
    "q_ab_test": q_ab_test,
    "q_ks_test": q_ks_test,
    "q_time_to_convert": q_time_to_convert,
    "q_events_retention": q_events_retention,
    "q_events_sessionize": q_events_sessionize,
    "q_events_funnel": q_events_funnel,
    "q_running_total": q_running_total,
}

ORACLES = {
    "q_events_windowed": Q_EVENTS_WINDOWED_SQL,
    "q_time_range_agg": Q_TIME_RANGE_AGG_SQL,
    "q_events_anomaly": Q_EVENTS_ANOMALY_SQL,
    "q_mad_outliers": Q_MAD_OUTLIERS_SQL,
    "q_mad_outliers_dist": Q_MAD_OUTLIERS_DIST_SQL,
    "q_skew_join": Q_SKEW_JOIN_SQL,
    "q_path_3grams": Q_PATH_3GRAMS_SQL,
    "q_ab_test": Q_AB_TEST_SQL,
    "q_ks_test": Q_KS_TEST_SQL,
    "q_time_to_convert": Q_TIME_TO_CONVERT_SQL,
    "q_events_retention": Q_EVENTS_RETENTION_SQL,
    "q_events_sessionize": Q_EVENTS_SESSIONIZE_SQL,
    "q_events_funnel": Q_EVENTS_FUNNEL_SQL,
    "q_running_total": Q_RUNNING_TOTAL_SQL,
}
