"""Distributed k-means.

``mllib_kmeans`` — the Spark-first default: delegate to MLlib's
KMeans (k-means|| init, DataFrame-native, JVM execution). This is
what replaces the reference's driver-side ``HCluster`` whenever the
point set is distributed. ``get_inertia`` scores any center set
against a distributed point frame.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mllib_kmeans(points: DataFrame, k: int, max_iter: int = 20, seed: int = 42,
                 features_col: str = "features",
                 n_seeds: int = 1) -> tuple[DataFrame, np.ndarray]:
    """MLlib KMeans over (id, features array<double>).

    ``n_seeds`` mirrors sklearn's ``n_init`` (and the reference's
    ``num_seeds = 10`` restart loop, /root/reference/code/
    test_sklearn.py:16): fit once per seed ``seed+i`` and keep the
    run with the lowest within-cluster SSE (``summary.trainingCost``
    — the reference's ``get_inertia``, test_sklearn.py:50). Ties →
    the lower seed, so the selection is deterministic.

    Returns (assignments DataFrame (id, cluster), centers ndarray).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Pin the vectorized input with an EAGER localCheckpoint, not
    # persist(): MLlib's Lloyd loop takes max_iter passes over the
    # input (plus the k-means|| init rounds), so an unpinned frame
    # re-runs the parquet scan + array→vector conversion on every one
    # (guide §5 — 5.0 s → 2.2 s at sf0.1, r15). But a persist() is
    # WORSE than the checkpoint: MLlib skips caching its internal
    # (vector, norm) RDD when the input reports a storage level, so
    # every pass still decoded cached rows back into vectors —
    # measured min-of-3 at sf0.1: persist 1.98 s, no cache 1.59 s,
    # eager localCheckpoint 1.41 s, bit-identical centers (this was
    # the one confirmed r15 bench regression). The checkpoint blocks
    # are freed by the ContextCleaner when the frame goes out of
    # scope; durability is not needed inside one fit call.
    vecs = points.withColumn("_vec", array_to_vector(F.col(features_col))).localCheckpoint(
        eager=True
    )
    best_model, best_cost = None, None
    for i in range(max(n_seeds, 1)):
        model = KMeans(
            k=k, maxIter=max_iter, seed=seed + i, featuresCol="_vec", predictionCol="cluster"
        ).fit(vecs)
        cost = model.summary.trainingCost
        if best_cost is None or cost < best_cost:
            best_model, best_cost = model, cost
    assigned = best_model.transform(vecs).select("id", "cluster")
    centers = np.array(best_model.clusterCenters())
    # materialize the winner before vecs goes out of scope — the
    # returned frame must not re-run the fit lineage when the caller
    # finally collects (ADVICE r13)
    assigned = assigned.localCheckpoint(eager=True)
    return assigned, centers


def get_inertia(points: DataFrame, centers: np.ndarray,
                features_col: str = "features") -> float:
    """Within-cluster SSE of ``points`` against ``centers`` —
    distributed parity of reference ``get_inertia``
    (/root/reference/code/test_sklearn.py:50). One Arrow-batched
    mapInPandas pass emitting ONE partial sum per batch; the driver
    collect is O(num_batches)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = centers
        c_sq = (c**2).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pts = np.stack(pdf[features_col].to_numpy())
            d2 = (pts**2).sum(axis=1)[:, None] - 2.0 * pts @ c.T + c_sq[None, :]
            yield pd.DataFrame({"sse": [float(np.maximum(d2.min(axis=1), 0.0).sum())]})

    partials = points.select(features_col).mapInPandas(fn, schema="sse double")
    row = partials.agg(F.sum("sse").alias("sse")).head()
    return float(row["sse"] or 0.0)
