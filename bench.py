"""Time registry keys on the corpus at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test corpus) through ``time_key``, the measurement every
timing tool outside perfbench shares.

Usage: python bench.py [key ...]   (default: KEYS)

Each key runs once cold (its first run in this session) and twice
warm. Prints ONE JSON line: per-key ``cold_s``/``warm_s``/``build_s``,
their best-warm total as ``value``, and the session's ``cpus``,
``sf``, ``load1`` and ``canary_s``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# scans, joins, sessionization, dedup, ANN, k-means and BFR, then the
# iterative graph and streaming families, the retrieval faces and the
# hash-gated det-BFR
KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q_events_sessionize",
    "q_asof_join",
    "text_quality",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce",
    "kmeans_fit",
    "bfr_fit",
    "dedup_components",
    "stream_components",
    "graph_pagerank",
    "text_bm25",
    "q_hybrid_rrf",
    "corpus_train_shuffle",
    "bfr_lloyd_det",
    "stream_ann_index",
]


# Host-drift canary: a FIXED synthetic Spark job — range →
# hash-shuffle agg → sort — that never changes. It exercises task
# scheduling, shuffle and whole-stage codegen with no parquet input,
# so it is SF-independent; perfbench stamps it as host.canary_s.
def _canary_sec(spark) -> float:
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(
                (F.col("id") % 9973).alias("k"),
                ((F.col("id") * 2654435761) % 1000003).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.avg("v").alias("a"))
            .orderBy("k")
            .count()
        )
        return time.time() - t0

    # min-of-5: the canary job JIT-warms over the first few runs —
    # 5 reps converge within ~5% on a fresh session (measured r15)
    return round(min(once() for _ in range(5)), 3)


def time_key(build) -> tuple[float, float]:
    """``(build_s, exec_s)`` of one key: ``build()`` returns its
    DataFrame (eager jobs inside it count as build), then the full
    result is written to the ``noop`` sink — every column of every
    row, with nothing pruned and nothing collected."""
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    keys = sys.argv[1:] or KEYS

    from bfr_clustering_using_pyspark_spark.plans import all_queries
    from bfr_clustering_using_pyspark_spark.session import get_spark

    qs = all_queries()
    unknown = [k for k in keys if k not in qs]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    # no console progress bars in the recorded line
    os.environ.setdefault("SPARK_GRAFT_NO_PROGRESS", "1")
    spark = get_spark("bench")
    # the AvailableNow drains log a benign termination stack trace
    # at query stop
    spark.sparkContext.setLogLevel("OFF")
    load1 = os.getloadavg()[0]
    canary = _canary_sec(spark)

    queries: dict[str, dict[str, float]] = {}
    for key in keys:
        cold, *warm = (time_key(lambda: qs[key](spark, sf_dir)) for _ in range(3))
        best = min(warm, key=sum)
        queries[key] = {
            "cold_s": round(sum(cold), 3),
            "warm_s": round(sum(best), 3),
            "build_s": round(best[0], 3),
        }
        print(f"# {key}: {queries[key]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "registry_keys_warm_total",
                "value": round(sum(q["warm_s"] for q in queries.values()), 3),
                "unit": "s",
                "queries": queries,
                "cpus": spark.sparkContext.defaultParallelism,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "load1": load1,
                "canary_s": canary,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
