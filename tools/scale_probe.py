"""Empirical scale-up probe: replicate the FACT tables (lineitem /
orders / events / documents / embeddings) K-fold with key offsets —
dimensions stay small, like a real warehouse — and time headline
operators at x1 / x10 / x30 through ``bench.time_key`` (build, then
the full result to the ``noop`` sink). At x1 the source directory is
timed in place, so ``scale_probe.py 1`` times any key list
(``SPARK_GRAFT_PROBE_QUERIES``) on any corpus (``SPARK_GRAFT_SF_DIR``).

The point is measured CURVATURE: an operator whose time grows
~linearly in rows has no hidden all-pairs stage, driver
materialization, or width cliff; super-linear growth at 30x flags
exactly the failure class that kills a 100 TB run.

Replication is done BY SPARK (crossJoin with a small replica-index
range + key offsets), so the probe itself exercises the distributed
write path instead of pandas-side generation.

Usage:
    python tools/scale_probe.py [multipliers...]   # default: 1 10 30

Prints one line per (multiplier, query): build and execute seconds,
then a per-query linearity ratio table (t_K / (K * t_1)) — ~1.0 is
linear, <1 is sub-linear (fixed overhead amortizing), >>1 is the
red flag.
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir))

from bench import time_key  # noqa: E402

DIM_TABLES = ("region", "nation", "customer", "supplier", "part")
FACTS = {
    # table -> (key columns to offset, optional perturbations)
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# headline operators spanning the main scale designs: hash-agg,
# shuffle join, banded LSH, bucketed ANN, windowed sessionize,
# distributed MAD and exact rank, text Arrow kernel, the iterative
# graph and streaming-component families, index-backed graph search
# and the retrieval faces; SPARK_GRAFT_PROBE_QUERIES replaces the list
PROBE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_salted_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_ivf",
    "dedup_embedding",
    "q_events_sessionize",
    "q_mad_outliers_dist",
    "stream_components",
    "dedup_components",
    "graph_pagerank",
    "q_percentiles_dist",
    "ann_graph_search",
    "text_bm25",
    "q_hybrid_rrf",
    "corpus_train_shuffle",
]
if os.environ.get("SPARK_GRAFT_PROBE_QUERIES"):
    PROBE_QUERIES = os.environ["SPARK_GRAFT_PROBE_QUERIES"].split(",")


def _scale_table(spark, src_dir: str, dst_dir: str, table: str, k: int) -> None:
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
    out = os.path.join(dst_dir, f"{table}.parquet")
    keys = FACTS[table]
    # one offset unit per key column = (max over the source) + 1, so
    # replicas never collide; FK pairs (o_orderkey / l_orderkey) use
    # the SAME unit because both derive from the orders keyspace
    unit_col = "o_orderkey" if table in ("orders", "lineitem") else keys[0]
    unit_src = "orders" if table in ("orders", "lineitem") else table
    unit = (
        spark.read.parquet(os.path.join(src_dir, f"{unit_src}.parquet"))
        .agg(F.max(unit_col))
        .collect()[0][0]
        + 1
    )
    # replica 0 is the source row unchanged
    rep = spark.range(k).withColumnRenamed("id", "__rep")
    scaled = df.crossJoin(F.broadcast(rep))
    for c in keys:
        scaled = scaled.withColumn(c, F.col(c) + F.col("__rep") * F.lit(int(unit)))
    if table == "events":
        # shift replica timestamps by k seconds so event streams stay
        # strictly increasing-cardinality instead of perfectly stacked
        scaled = scaled.withColumn(
            "ts", F.col("ts") + (F.col("__rep") * F.expr("INTERVAL 1 SECOND"))
        )
    if table == "embeddings":
        # rotate replica vectors by __rep components: replicas are no
        # longer near-duplicates of their source (cosine vs a rotation
        # is ~random), so the dup GRAPH stays sparse while the corpus
        # grows — exact copies would make every vector a true near-dup
        # of K-1 others, a quadratically denser ANSWER, not a bigger
        # corpus
        scaled = scaled.withColumn(
            "__rot", F.expr("CAST(pmod(__rep, size(embedding)) AS INT)")
        ).withColumn(
            "embedding",
            F.expr(
                "concat(slice(embedding, __rot + 1, size(embedding) - __rot), "
                "slice(embedding, 1, __rot))"
            ),
        ).drop("__rot")
    if table == "documents":
        # Mutate every 8th TOKEN of replica text so near-dup groups
        # stay bounded. A suffix tag is NOT enough: appending never
        # breaks an existing shingle, so the replica stays a
        # near-superset of its source (J ≈ 0.93, containment ≈ 1.0)
        # and every replica family forms a true dup CLIQUE — the
        # ANSWER grows ~K² (measured: containment 499 → 482k pairs at
        # x10), which probes answer density, not corpus growth.
        # Changing one token in eight breaks ~3 shingles per change
        # (spacing > shingle width), pushing replica-vs-source
        # J ≈ 0.43 and containment ≈ 0.6 — both below their
        # thresholds, so the dup graph stays sparse as K grows.
        scaled = scaled.withColumn(
            "text",
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                F.expr(
                    "concat_ws(' ', transform(split(text, ' '), (t, i) ->"
                    " CASE WHEN i % 8 = pmod(__rep, 8)"
                    " THEN concat(t, 'q', CAST(__rep AS STRING)) ELSE t END))"
                )
            ),
        ).withColumn("n_chars", F.length("text").cast("long"))
    scaled = scaled.drop("__rep")
    scaled.write.mode("overwrite").parquet(out)


def build_scaled_dir(spark, src_dir: str, dst_dir: str, k: int) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for t in DIM_TABLES:
        dst = os.path.join(dst_dir, f"{t}.parquet")
        srcp = os.path.join(src_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            if os.path.isdir(srcp):
                shutil.copytree(srcp, dst)
            else:
                shutil.copy(srcp, dst)
    for t in FACTS:
        _scale_table(spark, src_dir, dst_dir, t, k)


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 30]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bfr_clustering_using_pyspark_spark.session import get_spark

    import __spark_entry__ as m

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()

    results: dict[str, dict[int, float]] = {q: {} for q in PROBE_QUERIES}
    base = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        for k in mults:
            d = src
            if k != 1:
                d = os.path.join(base, f"x{k}")
                build_scaled_dir(spark, src, d, k)
                print(f"# built x{k} corpus", flush=True)
            for q in PROBE_QUERIES:
                build_s, exec_s = time_key(lambda: qs[q](spark, d))
                results[q][k] = build_s + exec_s
                print(f"x{k:<3d} {q:24s} build {build_s:7.2f}s  exec {exec_s:7.2f}s", flush=True)
        print("\n# linearity ratios t_K / (K * t_1)  (~1 linear, >>1 red flag)")
        for q in PROBE_QUERIES:
            t1 = results[q].get(1)
            if not t1:
                continue
            ratios = "  ".join(
                f"x{k}={results[q][k] / (k * t1):.2f}" for k in mults if k != 1
            )
            print(f"{q:24s} t1={t1:.2f}s  {ratios}", flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
