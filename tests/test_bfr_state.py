"""BFR driver state: CS membership lives in the assignment output
under provisional labels, checkpoints carry only summaries + the CS id
table, and non-finite input fails loudly."""

import json

import numpy as np
import pytest

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig
from tests.test_ml import make_blobs, to_df

# emerging clusters: the init chunk sees 3 blobs, later chunks add new
# ones, so RS overflows into CS, CS merge, and later points hit CS
CFG = dict(n_clusters=3, n_chunks=5, rs_max=40, cs_merge_threshold=8.0)


def emerging_blobs(n_chunks=5, per_chunk=500, d=4, seed=1):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 10, (3 + 2 * (n_chunks - 1), d))
    X = np.vstack(
        [
            centers[rng.integers(0, 3 + 2 * r, per_chunk)] + rng.normal(0, 0.6, (per_chunk, d))
            for r in range(n_chunks)
        ]
    )
    return X, np.zeros(len(X), dtype=int)


def _fit(spark, X, y, **kw):
    bfr = BFR(BFRConfig(**CFG))
    out = sorted(map(tuple, bfr.fit(to_df(spark, X, y), **kw).collect()))
    return bfr, out, [vars(r) for r in bfr.round_stats]


def test_run_dir_and_in_memory_paths_agree_with_cs(spark, tmp_path):
    X, y = emerging_blobs()
    mem, mem_out, mem_stats = _fit(spark, X, y)
    _, disk_out, disk_stats = _fit(spark, X, y, run_dir=str(tmp_path / "rd"))
    # CS formed, and more CS ids were made than survived: some merged
    assert max(s["nof_cluster_compression"] for s in mem_stats) > 0
    assert len(mem.cs_labels) > mem_stats[-2]["nof_cluster_compression"]
    assert disk_out == mem_out
    assert disk_stats == mem_stats
    # every provisional CS label resolved to a DS label
    ids, labels = zip(*mem_out)
    assert sorted(ids) == list(range(len(X)))
    assert set(labels) <= set(range(-1, CFG["n_clusters"]))


def test_crash_after_cs_formed_resumes_bit_identical(spark, tmp_path):
    X, y = emerging_blobs()
    _, ref_out, ref_stats = _fit(spark, X, y, run_dir=str(tmp_path / "ref"))

    crash_dir = tmp_path / "crash"
    victim = BFR(BFRConfig(**CFG))
    original = victim._apply_feedback
    calls = {"n": 0}

    def sabotaged(fb):
        if calls["n"] == 3:
            raise RuntimeError("simulated executor-driver crash")
        calls["n"] += 1
        return original(fb)

    victim._apply_feedback = sabotaged
    with pytest.raises(RuntimeError, match="simulated"):
        victim.fit(to_df(spark, X, y), run_dir=str(crash_dir))
    state = json.loads((crash_dir / "state.json").read_text())
    assert state["next_round"] == 3
    assert len(state["cs"]["counts"]) > 0 and state["cs_ids"]

    resumed = BFR(BFRConfig(**CFG))
    out = sorted(
        map(tuple, resumed.fit(to_df(spark, X, y), run_dir=str(crash_dir), resume=True).collect())
    )
    assert out == ref_out
    assert [vars(r) for r in resumed.round_stats] == ref_stats


def test_older_checkpoint_format_refits_from_scratch(spark, tmp_path):
    """A state.json in the layout that kept per-CS member lists is
    treated like a torn checkpoint: a from-scratch refit."""
    X, y = make_blobs(n=600, k=3, d=4)
    _, ref_out, ref_stats = _fit(spark, X, y)
    run_dir = tmp_path / "old"
    run_dir.mkdir()
    old = {
        "next_round": 1,
        "meta": {"n_chunks": CFG["n_chunks"], "d": 4, "corpus_fp": [0, 599, 600]},
        "ds": {"counts": [1, 1, 1], "sums": [[0.0] * 4] * 3, "sqsums": [[0.0] * 4] * 3},
        "cs": None,
        "cs_members": [],
        "rs_ids": [],
        "rs_pts": [],
        "n_discard_points": 3,
        "round_stats": [],
        "tail": [],
    }
    (run_dir / "state.json").write_text(json.dumps(old))
    _, out, stats = _fit(spark, X, y, run_dir=str(run_dir), resume=True)
    assert out == ref_out
    assert stats == ref_stats


def test_nan_in_first_chunk_raises(spark):
    X, y = make_blobs(n=900, k=3, d=4)
    X[5, 2] = np.nan
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=3))
    with pytest.raises(ValueError, match="1 non-finite feature values in chunk 0"):
        bfr.fit(to_df(spark, X, y))


def test_inf_in_later_chunk_raises(spark):
    X, y = make_blobs(n=900, k=3, d=4)
    X[700, 0] = np.inf
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=3))
    with pytest.raises(ValueError, match="1 non-finite feature values in chunk 2"):
        bfr.fit(to_df(spark, X, y))
