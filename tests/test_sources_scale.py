"""Source round-trips + the bucketed-join zero-shuffle proof."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig, nmi_score
from bfr_clustering_using_pyspark_spark.sources import sinks
from bfr_clustering_using_pyspark_spark.sources.readers import load_csv, load_json_lines, points_from_indexed_csv
from tests.conftest import SF_SMALL
from tests.test_ml import make_blobs, to_df


def test_csv_roundtrip(spark, tmp_path):
    df = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    path = str(tmp_path / "nation_csv")
    sinks.write_csv(df, path)
    back = load_csv(spark, path, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, tmp_path):
    df = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    path = str(tmp_path / "region_json")
    sinks.write_json_lines(df, path)
    back = load_json_lines(spark, path, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_point_parse_matches_per_element_cast(spark, tmp_path):
    """The chunk reader's one array cast gives the rows a per-element
    ``transform`` cast gives, bit for bit, on the values where a
    string-to-double parse can differ."""
    path = tmp_path / "chunk.txt"
    path.write_text("0,1.5e3,-2E-4,-0.0\n1,1e-320,1e308,NaN\n2,Infinity,-Infinity,3\n-4,7\n5\n")
    parts = F.split(F.col("value"), ",")
    ref = spark.read.text(str(path)).select(
        parts.getItem(0).cast("long").alias("id"),
        F.transform(F.slice(parts, 2, 1 << 20), lambda x: x.cast("double")).alias("features"),
    )

    def bits(df):
        return [(r["id"], np.asarray(r["features"], dtype=np.float64).tobytes()) for r in df.collect()]

    got = bits(points_from_indexed_csv(spark, str(path)))
    assert got == bits(ref)
    assert [i for i, _ in got] == [0, 1, 2, -4, 5]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange
    entirely — the co-located-join pattern for repeated 100 TB joins."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    t_orders, t_li = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    sinks.write_bucketed(orders, t_orders, "o_orderkey", n_buckets=8)
    sinks.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), t_li, "o_orderkey", n_buckets=8
    )
    # disable broadcast so the bucketed sort-merge path is exercised
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table(t_li)
            .join(spark.table(t_orders), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Bucketed: true" in plan
        # the join itself introduces no shuffle: the only Exchange
        # allowed is the final aggregation's
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")


def test_bfr_extreme_skew(spark):
    """90% of points in one cluster — skewed DS updates must not
    break assignment or stats."""
    rng = np.random.default_rng(13)
    k, d = 4, 8
    centers = rng.normal(0, 15, (k, d))
    labels = np.concatenate([np.zeros(9000, dtype=int), rng.integers(1, k, 1000)])
    X = centers[labels] + rng.normal(0, 0.4, (len(labels), d))
    perm = rng.permutation(len(X))
    pts = to_df(spark, X[perm], labels[perm])
    bfr = BFR(BFRConfig(n_clusters=k, n_chunks=4))
    assigned = bfr.fit(pts)
    assert assigned.count() == len(X)
    assert nmi_score(assigned, pts.select("id", "label")) > 0.95


def test_ivf_lists_partition_pruned(spark, tmp_path):
    """The IVF 100 TB story made physical: store vectors partitioned
    by their coarse-quantizer list, probe a handful of lists, and the
    scan must show PartitionFilters — Spark reads ONLY the probed
    lists' directories, so per-query IO is n·nprobe/nlists, not n."""
    import pyspark.sql.functions as F

    from bfr_clustering_using_pyspark_spark.ml.kmeans import mllib_kmeans
    from bfr_clustering_using_pyspark_spark.operators.similarity import _base
    from tests.conftest import SF_SMALL

    base = _base(spark, SF_SMALL)
    pts = base.select(F.col("vec_id").alias("id"), F.col("v").alias("features"))
    assigned, _ = mllib_kmeans(pts, k=8, max_iter=5, seed=7)
    listed = base.join(
        assigned.select(F.col("id").alias("vec_id"), F.col("cluster").alias("list_id")),
        "vec_id",
    )
    store = str(tmp_path / "ivf_store")
    listed.write.partitionBy("list_id").mode("overwrite").parquet(store)

    probed = spark.read.parquet(store).filter(F.col("list_id").isin([1, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "list_id" in plan.split("PartitionFilters:")[1][:200]
    # and the probe really is a subset
    assert probed.count() < listed.count()
