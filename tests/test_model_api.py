"""BFR model API: predict on frozen summaries, save/load roundtrip,
parquet compaction."""

import json

import numpy as np
import pytest

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig
from bfr_clustering_using_pyspark_spark.sources.sinks import compact_parquet
from tests.test_ml import make_blobs, to_df


def _fit_small(spark):
    X, y = make_blobs(n=1500, k=4, d=6)
    pts = to_df(spark, X, y)
    bfr = BFR(BFRConfig(n_clusters=4, n_chunks=2))
    bfr.fit(pts)
    return bfr, pts, X, y


def test_predict_matches_training_clusters(spark):
    bfr, pts, X, y = _fit_small(spark)
    pred = bfr.predict(pts).toPandas().set_index("id")["cluster"]
    # frozen-model prediction must agree with GT structure: each GT
    # cluster maps to exactly one predicted cluster
    import pandas as pd

    df = pd.DataFrame({"pred": pred[np.arange(len(y))].to_numpy(), "truth": y})
    assert (df.groupby("truth")["pred"].nunique() == 1).all()


def test_predict_alpha_gates_outliers(spark):
    bfr, pts, X, y = _fit_small(spark)
    import pandas as pd

    far = np.full((5, X.shape[1]), 1e5)
    far_df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(5), "features": list(far)})
    )
    out = bfr.predict(far_df, alpha=3.0).toPandas()
    assert (out["cluster"] == -1).all()
    hard = bfr.predict(far_df).toPandas()
    assert (hard["cluster"] >= 0).all()


def test_save_load_roundtrip(spark, tmp_path):
    bfr, pts, X, y = _fit_small(spark)
    p = str(tmp_path / "model.json")
    bfr.save(p)
    loaded = BFR.load(p)
    a = bfr.predict(pts).toPandas().sort_values("id")["cluster"].to_numpy()
    b = loaded.predict(pts).toPandas().sort_values("id")["cluster"].to_numpy()
    assert (a == b).all()
    assert loaded.intermediate_stats().equals(bfr.intermediate_stats())


# the config a model saved before the BFR settings became constants
# carries: every field, the retired ones at the values still in use
_OLD_CONFIG = {
    "n_clusters": 4, "n_chunks": 2, "alpha_ds": 3.0, "alpha_fold": 4.0,
    "init_oversample": 3, "init_sample_frac": 0.2, "init_sample_cap": 200000,
    "rs_cluster_factor": 5, "rs_max": 50000, "cs_merge_threshold": 3.0,
    "kmeans_iterations": 5, "seed": 42, "use_cs": True,
}


def _save_old_format(path, config):
    k, d = config["n_clusters"], 3
    payload = {
        "config": config,
        "counts": [10] * k,
        "sums": [[float(c)] * d for c in range(k)],
        "sqsums": [[1.0] * d] * k,
        "round_stats": [],
    }
    path.write_text(json.dumps(payload))
    return str(path)


def test_load_takes_older_config_only_at_the_fixed_values(tmp_path):
    model = BFR.load(_save_old_format(tmp_path / "old.json", _OLD_CONFIG))
    assert model.cfg == BFRConfig(n_clusters=4, n_chunks=2, rs_max=50000, cs_merge_threshold=3.0)
    assert model.ds.k == 4
    for key, value in [("alpha_ds", 2.0), ("seed", 7), ("use_cs", False)]:
        path = _save_old_format(tmp_path / f"{key}.json", {**_OLD_CONFIG, key: value})
        with pytest.raises(ValueError, match=f"sets retired {key}"):
            BFR.load(path)


def test_compact_parquet(spark, tmp_path):
    df = spark.range(0, 100_000).withColumnRenamed("id", "x")
    frag = str(tmp_path / "frag")
    df.repartition(64).write.parquet(frag)  # 64 tiny files
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, frag, out, target_mb=128)
    assert n == 1  # tiny dataset → single file target
    import pathlib

    files = list(pathlib.Path(out).glob("*.parquet"))
    assert len(files) == n
    assert spark.read.parquet(out).count() == 100_000
