"""bfr_lloyd_det: the hash-gated deterministic chunked-BFR epoch must
match an independent numpy replay bit-for-bit, keep every point
exactly once, and actually exercise the Mahalanobis RETAIN path on
data that contains outliers (the driver corpus has none, so the gate
there is always-accept by design — see plans/ml_queries.py)."""

import os

import numpy as np
import pandas as pd
import pytest

from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
    BDET_CHUNKS,
    BDET_EPS,
    BDET_INIT_ITERS,
    BDET_K,
    BDET_SCALE,
    BDET_THRESH,
    bfr_lloyd_det,
)
from tests.conftest import SF_SMALL

KD = 64


def _numpy_replay(ids, X):
    """Independent replay of the shipped semantics: farthest-point
    seeds (min vec_id first, argmax of min-distance, ties → smaller
    vec_id), BDET_INIT_ITERS Lloyd rounds on chunk 0, then per-chunk
    Mahalanobis-gated assignment with integer moment accumulation."""
    S = BDET_SCALE
    Xi = np.round(X * S).astype(np.int64)
    order = np.argsort(ids)
    ids, Xi = ids[order], Xi[order]
    chunk = ids % BDET_CHUNKS
    m0 = chunk == 0
    ids0, X0 = ids[m0], Xi[m0]

    seeds = [0]  # ids sorted ascending → index 0 is min vec_id
    for _ in range(BDET_K - 1):
        dmin = np.min(
            ((X0[:, None, :] / S - X0[None, seeds, :] / S) ** 2).sum(axis=2), axis=1
        )
        seeds.append(int(dmin.argmax()))  # first max = smaller vec_id

    cents = {j: X0[s] / S for j, s in enumerate(seeds)}
    for it in range(BDET_INIT_ITERS):
        keys = sorted(cents)
        C = np.stack([cents[c] for c in keys])
        d2 = ((X0[:, None, :] / S - C[None]) ** 2).sum(axis=2)
        a0 = np.array([keys[j] for j in d2.argmin(axis=1)])
        if it < BDET_INIT_ITERS - 1:
            cents = {}
            for c in np.unique(a0):
                m = a0 == c
                s = X0[m].sum(axis=0)
                cents[c] = np.array([int(v) / int(m.sum()) / S for v in s])

    mom = {}
    for c in np.unique(a0):
        m = a0 == c
        mom[c] = [
            int(m.sum()),
            [int(v) for v in X0[m].sum(axis=0)],
            [int(v) for v in (X0[m].astype(object) ** 2).sum(axis=0)],
        ]
    out = dict(zip(ids0.tolist(), a0.tolist()))
    for t in range(1, BDET_CHUNKS):
        keys = sorted(mom)
        mu = np.stack([np.array([s / mom[c][0] / S for s in mom[c][1]]) for c in keys])
        sg = np.stack(
            [
                np.array(
                    [
                        max(q / mom[c][0] / S / S - (s / mom[c][0] / S) ** 2, BDET_EPS)
                        for s, q in zip(mom[c][1], mom[c][2])
                    ]
                )
                for c in keys
            ]
        )
        mt = chunk == t
        Xt = Xi[mt]
        maha = (((Xt[:, None, :] / S - mu[None]) ** 2) / sg[None]).sum(axis=2)
        best = maha.argmin(axis=1)
        aT = np.where(maha.min(axis=1) <= BDET_THRESH, np.array(keys)[best], -1)
        for c in np.unique(aT[aT >= 0]):
            m = aT == c
            n, s, q = mom[c]
            mom[c] = [
                n + int(m.sum()),
                [a + int(b) for a, b in zip(s, Xt[m].sum(axis=0))],
                [a + int(b) for a, b in zip(q, (Xt[m].astype(object) ** 2).sum(axis=0))],
            ]
        out.update(zip(ids[mt].tolist(), aT.tolist()))
    return out


def test_matches_numpy_replay(spark):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([[float(v) for v in r["embedding"]] for r in rows])
    want = _numpy_replay(ids, X)
    got = {r["vec_id"]: r["cluster"] for r in bfr_lloyd_det(spark, SF_SMALL).collect()}
    assert got == want
    # every point exactly once, all DS clusters live on this corpus
    assert sorted(got) == sorted(ids.tolist())
    live = {c for c in got.values() if c >= 0}
    assert len(live) >= 2


def test_outliers_are_retained(spark, tmp_path):
    """Far-away points in later chunks must fail the α²·d gate and
    come back as cluster −1; inlier blob points must not."""
    rng = np.random.default_rng(7)
    n = 480
    ids = np.arange(n)
    X = rng.normal(0.0, 0.05, size=(n, KD))
    blob = (ids // BDET_CHUNKS) % BDET_K  # decorrelated from chunk=id%4
    for b in range(BDET_K):  # K well-separated tight blobs
        X[blob == b, b] += 2.0
    outlier_ids = [17, 53, 101]  # all with vec_id % 4 != 0 → gated chunks
    for o in outlier_ids:
        X[o] = 30.0  # ~600σ away from every blob
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [row.astype(np.float32).tolist() for row in X],
            "label": blob.astype(np.int32),
        }
    )
    d = tmp_path / "embeddings.parquet"
    pdf.to_parquet(d)
    got = {r["vec_id"]: r["cluster"] for r in bfr_lloyd_det(spark, str(tmp_path)).collect()}
    for o in outlier_ids:
        assert got[o] == -1, f"outlier {o} was not retained (got {got[o]})"
    inliers_retained = sum(
        1 for i, c in got.items() if c == -1 and i not in outlier_ids
    )
    # blob-aligned K: the gate accepts blob members (a handful of
    # boundary rejects tolerated — sample variance on a ~15-point
    # init cluster underestimates)
    assert inliers_retained <= n // 20
    # and the replay agrees on this corpus too (gate path included)
    assert got == _numpy_replay(ids, X)


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.01"), reason="testdata missing"
)
def test_chunks_partition_points(spark):
    df = bfr_lloyd_det(spark, "/root/testdata/sf0.01")
    n = df.count()
    assert df.select("vec_id").distinct().count() == n
    assert df.filter("cluster < -1 or cluster >= %d" % BDET_K).count() == 0


# ----------------------------------------------------------------- #
# CS-tier faces (bfr_lloyd_cs / bfr_lloyd_cs_stats): the driver
# corpus exercises capped retain + full merge (6 stage-1 clusters →
# 1 CS set); these synthetic corpora pin the paths it can't reach —
# singleton fallback to RS, DISTINCT (partial) merged sets, and the
# empty-pool degenerate — each checked against the DuckDB oracle
# directly, the same comparison the external gate runs.
# ----------------------------------------------------------------- #

import duckdb

from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
    BFR_LLOYD_CS_SQL,
    BFR_LLOYD_CS_STATS_SQL,
    bfr_lloyd_cs,
    bfr_lloyd_cs_stats,
)


def _oracle_rows(sql: str, pq_path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{pq_path}'")
    return con.sql(sql).fetchall()


def _cs_corpus(tmp_path):
    """Blob inliers + two tight far groups (distinct CS sets) + one
    lone extreme point (RS singleton), all in gated chunks."""
    rng = np.random.default_rng(11)
    n = 480
    ids = np.arange(n)
    X = rng.normal(0.0, 0.05, size=(n, KD))
    blob = (ids // BDET_CHUNKS) % 8
    for b in range(8):
        X[blob == b, b] += 2.0
    group_a = [21, 25, 29, 33, 37]     # %4==1 → chunk 1
    group_b = [22, 26, 30, 34]         # %4==2 → chunk 2
    lone = 23                          # %4==3 → chunk 3
    for j, o in enumerate(group_a):
        X[o] = 0.0
        X[o, 0] = 20.0
        X[o, 1] = 0.01 * j
    for j, o in enumerate(group_b):
        X[o] = 0.0
        X[o, 0] = -20.0
        X[o, 2] = 0.01 * j
    X[lone] = 0.0
    X[lone, 5] = 40.0
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [row.astype(np.float32).tolist() for row in X],
        }
    )
    pq = tmp_path / "embeddings.parquet"
    pdf.to_parquet(pq)
    return str(tmp_path), str(pq), group_a, group_b, lone


def test_cs_singleton_and_distinct_sets(spark, tmp_path):
    sf_dir, pq, group_a, group_b, lone = _cs_corpus(tmp_path)
    rows = bfr_lloyd_cs(spark, sf_dir).collect()
    got = {r["vec_id"]: (r["cluster"], r["tier"]) for r in rows}
    # lone extreme point: own stage-1 cluster → singleton → RS
    assert got[lone] == (-1, "RS"), got[lone]
    # each tight far group forms ONE compressed set; the two sets do
    # NOT merge (their σ² is tiny, center distance huge)
    tags_a = {got[o] for o in group_a}
    tags_b = {got[o] for o in group_b}
    assert len(tags_a) == 1 and next(iter(tags_a))[1] == "CS", tags_a
    assert len(tags_b) == 1 and next(iter(tags_b))[1] == "CS", tags_b
    assert tags_a != tags_b
    # full bit-exact agreement with the DuckDB oracle on this corpus
    want = sorted(_oracle_rows(BFR_LLOYD_CS_SQL, pq))
    assert sorted((r["vec_id"], r["cluster"], r["tier"]) for r in rows) == want


def test_cs_stats_match_membership_and_oracle(spark, tmp_path):
    sf_dir, pq, _a, _b, _lone = _cs_corpus(tmp_path)
    mem = bfr_lloyd_cs(spark, sf_dir).collect()
    st = bfr_lloyd_cs_stats(spark, sf_dir).collect()
    by_tier = {}
    for r in mem:
        by_tier[r["tier"]] = by_tier.get(r["tier"], 0) + 1
    last = st[-1]
    assert last["nof_point_discard"] == by_tier.get("DS", 0)
    assert last["nof_point_compression"] == by_tier.get("CS", 0)
    assert last["nof_point_retained"] == by_tier.get("RS", 0)
    assert last["nof_cluster_compression"] == len(
        {r["cluster"] for r in mem if r["tier"] == "CS"}
    )
    # rounds 1..3 report zero compression and raw cumulative retained
    for r in st[:-1]:
        assert r["nof_cluster_compression"] == 0
        assert r["nof_point_compression"] == 0
    want = sorted(_oracle_rows(BFR_LLOYD_CS_STATS_SQL, pq))
    assert sorted(tuple(r) for r in st) == want


def test_cs_empty_pool(spark, tmp_path):
    """All points in chunk 0 (vec_id % chunks == 0) → nothing is ever
    gated → empty retained pool → pure-DS output, and the oracle's
    empty-CTE cascade agrees."""
    rng = np.random.default_rng(3)
    ids = np.arange(0, 480, BDET_CHUNKS)  # all ≡ 0 (mod chunks)
    X = rng.normal(0.0, 1.0, size=(len(ids), KD))
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [row.astype(np.float32).tolist() for row in X],
        }
    )
    pq = tmp_path / "embeddings.parquet"
    pdf.to_parquet(pq)
    rows = bfr_lloyd_cs(spark, str(tmp_path)).collect()
    assert len(rows) == len(ids)
    assert all(r["tier"] == "DS" and r["cluster"] >= 0 for r in rows)
    want = sorted(_oracle_rows(BFR_LLOYD_CS_SQL, str(pq)))
    assert sorted((r["vec_id"], r["cluster"], r["tier"]) for r in rows) == want
    st = bfr_lloyd_cs_stats(spark, str(tmp_path)).collect()
    assert st[-1]["nof_point_compression"] == 0
    assert st[-1]["nof_point_retained"] == 0


# ----------------------------------------------------------------- #
# regate face (bfr_lloyd_regate): the driver corpus exercises the
# rank-capped absorption (all pool distances are far below the α=4
# threshold, so 16 closest absorb per non-final round); this corpus
# pins the path it can't reach — the α=4 filter REFUSING extreme
# outliers even when rank alone would admit them — plus full oracle
# agreement.
# ----------------------------------------------------------------- #

from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
    BDET_REGATE_TAKE,
    BDET_REGATE_THRESH,
    BFR_LLOYD_REGATE_SQL,
    bfr_lloyd_regate,
)


def test_regate_alpha_filter_and_oracle(spark, tmp_path):
    """Chunk-1/2 extreme outliers land in the retained pool and must
    STAY retained (or RS) through every re-gate round — their maha
    against any DS cluster is orders of magnitude past α²·d=1024 —
    while ordinary boundary points do get re-absorbed."""
    rng = np.random.default_rng(17)
    n = 480
    ids = np.arange(n)
    X = rng.normal(0.0, 0.05, size=(n, KD))
    blob = (ids // BDET_CHUNKS) % 8
    for b in range(8):
        X[blob == b, b] += 2.0
    far = [21, 25, 22, 26]  # chunks 1,1,2,2
    for o in far:
        X[o] = 0.0
        X[o, 0] = 50.0  # ~1000σ: maha >> threshold vs every blob
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [r.astype(np.float32).tolist() for r in X]}
    )
    pq = tmp_path / "embeddings.parquet"
    pdf.to_parquet(pq)
    rows = bfr_lloyd_regate(spark, str(tmp_path)).collect()
    got = {r["vec_id"]: (r["cluster"], r["entry_round"], r["via"]) for r in rows}
    for o in far:
        assert got[o][0] == -1 and got[o][2] == "retained", got[o]
    # re-gating really happened for ordinary pool members
    n_regate = sum(1 for v in got.values() if v[2] == "regate")
    assert 0 < n_regate <= 2 * BDET_REGATE_TAKE
    # every point exactly once; full oracle agreement
    assert len(got) == n
    want = sorted(_oracle_rows(BFR_LLOYD_REGATE_SQL, str(pq)))
    assert (
        sorted((r["vec_id"], r["cluster"], r["entry_round"], r["via"]) for r in rows)
        == want
    )


from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
    BFR_LLOYD_FINAL_SQL,
    bfr_lloyd_final,
)


def test_final_fold_paths_and_oracle(spark, tmp_path):
    """merge_into_ds parity on a corpus with an RS singleton: the
    lone extreme point must come out 'outlier' (α=4 re-gate fails at
    ~1000σ), the tight far groups fold via 'cs_fold' into SOME DS
    cluster, every point appears exactly once, and the full result
    matches the DuckDB oracle."""
    sf_dir, pq, group_a, group_b, lone = _cs_corpus(tmp_path)
    rows = bfr_lloyd_final(spark, sf_dir).collect()
    got = {r["vec_id"]: (r["cluster"], r["via"]) for r in rows}
    assert got[lone] == (-1, "outlier"), got[lone]
    for o in group_a + group_b:
        c, via = got[o]
        assert via == "cs_fold" and 0 <= c < BDET_K, (o, got[o])
    vias = {v for _, v in got.values()}
    assert "gate" in vias and "init" in vias
    assert len(got) == 480
    want = sorted(_oracle_rows(BFR_LLOYD_FINAL_SQL, pq))
    assert sorted((r["vec_id"], r["cluster"], r["via"]) for r in rows) == want


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_json_literal_rejects_non_finite(bad):
    """JSON cannot carry NaN/Inf and from_json would read one as
    NULL: rendering the literal must fail at plan-build time."""
    from bfr_clustering_using_pyspark_spark.plans.ml_queries import _sql_djson

    with pytest.raises(ValueError):
        _sql_djson([[1.0, bad]])
