"""BFR edge cases: single chunk, empty mid-stream chunk, duplicate
points, tiny d."""

import numpy as np
import pandas as pd

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig
from tests.test_ml import make_blobs, to_df


def test_single_chunk(spark):
    X, y = make_blobs(n=800, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=1))
    out = bfr.fit(to_df(spark, X, y))
    assert out.count() == 800
    assert len(bfr.round_stats) == 1


def test_empty_middle_chunk(spark):
    # ids leave a hole so one range-chunk is empty
    X, y = make_blobs(n=600, k=3, d=4)
    ids = np.concatenate([np.arange(300), np.arange(900, 1200)])
    pdf = pd.DataFrame({"id": ids, "features": list(X), "label": y})
    pts = spark.createDataFrame(pdf)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=4))
    out = bfr.fit(pts)
    assert out.count() == 600


def test_duplicate_points(spark):
    X, y = make_blobs(n=200, k=2, d=4)
    X = np.repeat(X, 3, axis=0)
    y = np.repeat(y, 3)
    bfr = BFR(BFRConfig(n_clusters=2, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y))
    assert out.count() == 600


def test_each_point_assigned_exactly_once(spark):
    X, y = make_blobs(n=2000, k=5, d=8, outliers=20)
    perm = np.random.default_rng(2).permutation(len(X))
    bfr = BFR(BFRConfig(n_clusters=5, n_chunks=3, rs_max=8))
    out = bfr.fit(to_df(spark, X[perm], y[perm])).toPandas()
    assert len(out) == len(X)
    assert out["id"].nunique() == len(X)


def test_midstream_crash_resume_bit_identical(spark, tmp_path):
    """Recovery contract (r10): every round checkpoints the complete
    mutable state AFTER its durable assignment write; a crash mid-
    round resumes at that round (idempotent per-round overwrite) and
    the finished fit is BIT-IDENTICAL — same (id, cluster) labels,
    same round_stats — to an uninterrupted run. The reference Runner
    has no restartability; at 100 TB a chunk-24-of-500 crash must not
    restart the fit."""
    X, y = make_blobs(n=2000, k=4, d=6)
    cfg = dict(n_clusters=4, n_chunks=5, rs_max=16)

    # ground truth: uninterrupted fit
    ref = BFR(BFRConfig(**cfg))
    ref_out = sorted(map(tuple, ref.fit(to_df(spark, X, y), run_dir=str(tmp_path / "ref")).collect()))
    ref_stats = [vars(r) for r in ref.round_stats]

    # interrupted fit: crash INSIDE round 2 (after rounds 0-1 are
    # durable), before round 2's checkpoint
    crash_dir = str(tmp_path / "crash")
    victim = BFR(BFRConfig(**cfg))
    original = victim._apply_feedback
    calls = {"n": 0}

    def sabotaged(fb):
        if calls["n"] == 2:
            raise RuntimeError("simulated executor-driver crash")
        calls["n"] += 1
        return original(fb)

    victim._apply_feedback = sabotaged
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated"):
        victim.fit(to_df(spark, X, y), run_dir=crash_dir)

    # resume with a FRESH model instance (fresh process semantics:
    # nothing carries over but run_dir)
    resumed = BFR(BFRConfig(**cfg))
    out = sorted(map(tuple, resumed.fit(to_df(spark, X, y), run_dir=crash_dir, resume=True).collect()))
    assert out == ref_out
    assert [vars(r) for r in resumed.round_stats] == ref_stats


def test_resume_without_state_is_full_fit(spark, tmp_path):
    """resume=True on a virgin run_dir degrades to a normal fit."""
    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y), run_dir=str(tmp_path / "virgin"), resume=True)
    assert out.count() == 600


def test_fit_without_run_dir_makes_no_directory(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    assert bfr.fit(to_df(spark, X, y)).count() == 600
    assert not list(tmp_path.glob("bfr_run_*"))


def test_resume_without_run_dir_raises(spark):
    import pytest

    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    with pytest.raises(ValueError, match="resume=True needs the run_dir"):
        bfr.fit(to_df(spark, X, y), resume=True)


def test_torn_checkpoint_falls_back_to_scratch(spark, tmp_path):
    """A truncated/empty state.json (pre-fsync crash on an old build,
    disk fault) must not block resume: the fit refits from scratch
    instead of raising JSONDecodeError (r11 ADVICE)."""
    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = tmp_path / "torn"
    run_dir.mkdir()
    (run_dir / "state.json").write_text('{"next_round": 1, "ds"')  # torn
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y), run_dir=str(run_dir), resume=True)
    assert out.count() == 600


def test_resume_provenance_mismatch_raises(spark, tmp_path):
    """Resuming with a different chunking (or corpus) must fail
    LOUDLY: silently skipping rounds that never ran for this data is
    the r11 ADVICE defect."""
    import pytest

    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = str(tmp_path / "prov")
    b1 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    b1.fit(to_df(spark, X, y), run_dir=run_dir)
    # same data, DIFFERENT n_chunks
    b2 = BFR(BFRConfig(n_clusters=3, n_chunks=4))
    with pytest.raises(ValueError, match="provenance mismatch"):
        b2.fit(to_df(spark, X, y), run_dir=run_dir, resume=True)
    # different CORPUS (row count), same chunking
    b3 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    with pytest.raises(ValueError, match="provenance mismatch"):
        b3.fit(to_df(spark, X[:500], y[:500]), run_dir=run_dir, resume=True)


def test_stale_round_dirs_cleaned_before_final_read(spark, tmp_path):
    """A run_dir left by a prior fit with MORE chunks must not leak
    its extra round_NNNNN assignment dirs into the returned frame:
    the final read names this fit's rounds, so stale dirs beyond
    n_chunks are never read."""
    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = str(tmp_path / "stale")
    b1 = BFR(BFRConfig(n_clusters=3, n_chunks=5))
    assert b1.fit(to_df(spark, X, y), run_dir=run_dir).count() == 600
    # fresh fit (resume=False) into the SAME dir with fewer chunks:
    # rounds 2-4 of the old run are stale and must be swept
    b2 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = b2.fit(to_df(spark, X, y), run_dir=run_dir).toPandas()
    assert len(out) == 600
    assert out["id"].nunique() == 600


def test_failed_checkpoint_write_surfaces(spark, tmp_path, monkeypatch):
    """The checkpoint IO runs on a background thread; a write failure
    must raise at the next join point, not vanish (losing durability
    silently would defeat the checkpoint)."""
    import json as _json

    import pytest

    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    monkeypatch.setattr(
        _json, "dump", lambda *a, **k: (_ for _ in ()).throw(OSError("disk full"))
    )
    with pytest.raises(RuntimeError, match="checkpoint write failed"):
        bfr.fit(to_df(spark, X, y), run_dir=str(tmp_path / "fail"))
