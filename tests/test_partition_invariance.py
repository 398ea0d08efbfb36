"""Partition-invariance: a hash-gated key must return BIT-IDENTICAL
results under any shuffle width, or its oracle greenness is a
partitioning coincidence (the failure mode the fixed-point doctrine
exists to kill: double summation is partition-order-dependent, and a
rounded boundary value can flip when the partial-sum tree changes).

Keys here are the risk class: float aggregation, iterative
convergence, window functions over shuffled input, and the
statistical readouts. Each runs at three widths spanning
single-partition, the test default, and wider-than-data; all three
row sets must hash identically.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_correctness import table_hash  # noqa: E402

from tests.conftest import SF_SMALL

# float-aggregating / iterative / windowed keys — the ones whose
# determinism is a design claim, not a structural given
RISK_KEYS = [
    "q1_pricing_summary",     # sum(double) -> fixed_sum cents
    "q7_volume_shipping",     # join + revenue sums (r4's flip class)
    "q9_product_profit",      # deep join tree + sums
    "q_mv_rollup",            # rollup over money sums
    "q_mv_incremental",       # full-outer delta merge of cents partials
    "q_corr_matrix",          # covariance accumulation
    "q_regression",           # OLS normal equations
    "q_ks_test",              # ECDF sup-distance
    "q_ab_test",              # means/variances per arm
    "q_moving_avg",           # window frame over shuffled input
    "kmeans_lloyd_det",       # iterative fixed-point assignment
    "pca_power_det",          # integer matrix power iteration
    "graph_pagerank",         # scaled-integer rank iteration
    "dedup_components",       # label propagation convergence
    "silhouette_eval",        # per-point mean distances
    # r13 risk-class keys
    "bfr_lloyd_det",          # iterative gated assignment, integer moments
    "kmeans_inertia_eval",    # fixed-point SSE over the KDET loop
    "davies_bouldin_eval",    # centroid folds + intra-mean sums
    "text_bm25_conj",         # float BM25 units summed per doc
    "contrastive_pairs",      # two rankings over a broadcast join
    "seq_pack_eval",          # grouped-pandas fold + padding sums
    "emb_truncate_eval",      # dual float rankings over one scan
    # r14 risk-class keys
    "bfr_lloyd_stats",        # windowed cumulative counts off the epoch
    "bfr_lloyd_cs",           # rank-based capped retain (top-R TakeOrdered)
    "stream_bfr_rounds",      # chunk-ordered replay, per-batch moment folds
    "bfr_lloyd_regate",       # rank-based retain + driver re-gate folds
    "bfr_lloyd_final",        # full lifecycle incl. CS/RS final fold
    # r15 risk-class keys
    "bfr_nmi_eval",           # float entropy sums over the contingency agg
    "bfr_lloyd_predict",      # raw maha doubles from the literal gate fold
]

WIDTHS = ["1", "8", "19"]


@pytest.mark.parametrize("key", RISK_KEYS)
def test_key_is_bit_identical_under_any_shuffle_width(spark, key):
    import __spark_entry__ as m

    fn = m.queries()[key]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    hashes = set()
    try:
        for w in WIDTHS:
            spark.conf.set("spark.sql.shuffle.partitions", w)
            df = fn(spark, SF_SMALL)
            rows = df.collect()
            hashes.add(table_hash(df.columns, [[r[c] for c in df.columns] for r in rows]))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(hashes) == 1, f"{key}: result depends on shuffle width"


def test_bfr_fit_stream_is_partition_invariant(spark):
    """The user-facing BFR must label every point the same however its
    chunks are partitioned: ``fit_stream`` over the same chunks read as
    1 and as 4 partitions returns identical (id, cluster) rows. The
    init sample is the partition-sensitive step (a per-partition RNG
    draw would pick a different sample), so it is drawn by a seeded
    hash of the id; outliers and a small ``rs_max`` put points through
    RS and CS too."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig

    rng = np.random.default_rng(5)
    centers = rng.normal(0, 10.0, (5, 6))
    X = np.vstack(
        [centers[rng.integers(0, 5, 3000)] + rng.normal(0, 0.5, (3000, 6)),
         rng.normal(0, 50.0, (60, 6))]
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(X)), "features": list(X)})
    ).localCheckpoint(eager=True)
    bounds = np.linspace(0, len(X), 4).astype(int)
    chunks = [
        pts.filter((F.col("id") >= int(lo)) & (F.col("id") < int(hi)))
        for lo, hi in zip(bounds[:-1], bounds[1:])
    ]
    cfg = BFRConfig(n_clusters=5, n_chunks=3, rs_max=20)
    got = [
        sorted(
            tuple(r)
            for r in BFR(cfg).fit_stream([layout(c) for c in chunks]).collect()
        )
        for layout in (lambda c: c.coalesce(1), lambda c: c.repartition(4))
    ]
    assert len(got[0]) == len(X)
    assert got[0] == got[1]
