"""The det-BFR engine's shared pieces: the one left-fold scorer must
equal the scalar loops it replaced bit for bit (ties to the smaller
id), chained CS merges must close over more than one hop like the
oracle's unrolled min-label propagation, and the JSON literal helper
must fail loudly on values that do not fit their type."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
    BDET_CHUNKS,
    BDET_CS_MERGE_T2,
    BDET_K,
    BDET_SCALE,
    BFR_LLOYD_CS_SQL,
    BFR_LLOYD_FINAL_SQL,
    _bdet_d2,
    bfr_lloyd_cs,
    bfr_lloyd_final,
)

KD = 64


# ---- the scalar loops the scorer replaced, kept as the reference ----


def _ref_eu2(x, y, S):
    acc = 0.0
    for a, b in zip(x, y):
        d = a / S - b / S
        acc += d * d
    return acc


def _ref_maha_best(x, params):
    S = BDET_SCALE
    best = None
    for c, mu, sg in params:
        acc = 0.0
        for i in range(KD):
            d = x[i] / S - mu[i]
            acc += d * d / sg[i]
        if best is None or (acc, c) < best:
            best = (acc, c)
    return best


def _tied_pool(seed):
    """200 int points and 6 sets with non-contiguous ids; sets 2 and 5
    are exact copies of set 0, and a third of the points sit on set
    0's center, so exact d² ties are common."""
    rng = np.random.default_rng(seed)
    ids = np.array([1, 2, 4, 5, 7, 9])
    mu = rng.integers(-20000, 20000, size=(6, KD)) / BDET_SCALE
    sg = rng.uniform(0.05, 3.0, size=(6, KD))
    mu[2], sg[2] = mu[0], sg[0]
    mu[5], sg[5] = mu[0], sg[0]
    X = rng.integers(-30000, 30000, size=(200, KD))
    X[::3] = np.round(mu[0] * BDET_SCALE).astype(np.int64) + rng.integers(-3, 4, size=(67, KD))
    return ids, mu, sg, X


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scorer_matches_scalar_mahalanobis(seed):
    ids, mu, sg, X = _tied_pool(seed)
    d2 = _bdet_d2(X / BDET_SCALE, mu, sg)
    j = d2.argmin(axis=1)
    params = [(int(c), mu[k].tolist(), sg[k].tolist()) for k, c in enumerate(ids)]
    n_ties = 0
    for p, x in enumerate(X.tolist()):
        want_d, want_c = _ref_maha_best(x, params)
        assert d2[p, j[p]] == want_d and ids[j[p]] == want_c
        n_ties += int((d2[p] == want_d).sum() > 1)
        # every entry, not only the argmin, is the scalar loop's double
        for k in range(len(ids)):
            acc = 0.0
            for i in range(KD):
                d = x[i] / BDET_SCALE - params[k][1][i]
                acc += d * d / params[k][2][i]
            assert d2[p, k] == acc
    assert n_ties >= 60


@pytest.mark.parametrize("seed", [0, 1])
def test_scorer_matches_scalar_euclidean(seed):
    _ids, _mu, _sg, X = _tied_pool(seed)
    Y = np.concatenate([X[:3], X[:1]])  # row 3 duplicates row 0
    d2 = _bdet_d2(X / BDET_SCALE, Y / BDET_SCALE)
    for p, x in enumerate(X.tolist()):
        ref = [_ref_eu2(x, y, BDET_SCALE) for y in Y.tolist()]
        assert d2[p].tolist() == ref
        assert d2[p].argmin() == min(range(len(ref)), key=lambda k: (ref[k], k))
    assert (d2.argmin(axis=1)[:1] == 0).all()  # X[0] ties rows 0 and 3


# ---- chained CS merges: a≈b, b≈c, a≉c must end in one component ----


def _chain_corpus(tmp_path):
    """8 tight blobs for the DS, plus 32 far points in each gated chunk
    (so the capped retain pool is exactly them): six groups of 16.
    Groups a, b, c lie on one line 10 apart with σ≈0.61 along it, so
    a–b and b–c pass the symmetric 9·d merge test (d² ≈ 265 < 576)
    while a–c fails it (d² ≈ 1059); three tight loners fill the other
    stage-1 seeds. The pool's smallest vec_id is in a (stage-1
    cluster 0), so c's label needs two propagation hops."""
    rng = np.random.default_rng(23)
    far = [i for i in range(1, 128) if i % BDET_CHUNKS]  # 96 ids, 32 per gated chunk
    n = 576
    ids = np.arange(n)
    X = rng.normal(0.0, 0.05, size=(n, KD))
    blob = (ids // BDET_CHUNKS) % BDET_K
    for b in range(BDET_K):
        X[blob == b, b] += 2.0
    spread = np.linspace(-1.0, 1.0, 16)
    groups = {}
    for g in range(6):
        members = far[g::6]
        groups[g] = members
        X[members] = 0.0
        if g < 3:  # a, b, c
            X[members, 0] = 20.0
            X[members, 1] = 10.0 * g + spread
        else:  # loners
            X[members, 7 + g] = 20.0
            X[members, 10 + g] = 0.01 * spread
    assert 1 in groups[0]
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [r.astype(np.float32).tolist() for r in X]}
    )
    pq = tmp_path / "embeddings.parquet"
    pdf.to_parquet(pq)
    return str(tmp_path), str(pq), groups


def _oracle_rows(sql, pq):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{pq}'")
    return con.sql(sql).fetchall()


def test_chained_cs_merge_is_one_component(spark, tmp_path):
    sf_dir, pq, groups = _chain_corpus(tmp_path)
    # the chain premise, on the quantized coordinates the pass sees
    line = {
        g: np.round(np.float32(10.0 * g + np.linspace(-1.0, 1.0, 16)) * BDET_SCALE) / BDET_SCALE
        for g in range(3)
    }
    var = line[0].var()
    assert (line[1].mean() - line[0].mean()) ** 2 / var < BDET_CS_MERGE_T2
    assert (line[2].mean() - line[0].mean()) ** 2 / var > BDET_CS_MERGE_T2

    rows = bfr_lloyd_cs(spark, sf_dir).collect()
    got = {r["vec_id"]: (r["cluster"], r["tier"]) for r in rows}
    chain = {got[v] for g in range(3) for v in groups[g]}
    assert len(chain) == 1 and next(iter(chain))[1] == "CS", chain
    loners = [{got[v] for v in groups[g]} for g in range(3, 6)]
    assert all(len(t) == 1 and next(iter(t))[1] == "CS" for t in loners), loners
    assert len(chain | set().union(*loners)) == 4
    want = sorted(_oracle_rows(BFR_LLOYD_CS_SQL, pq))
    assert sorted((r["vec_id"], r["cluster"], r["tier"]) for r in rows) == want

    final = bfr_lloyd_final(spark, sf_dir).collect()
    fold = {(r["cluster"], r["via"]) for r in final if r["vec_id"] in set(sum(groups.values(), []))}
    assert {v for _, v in fold} == {"cs_fold"}
    # the whole chain folds to ONE DS cluster
    assert len({r["cluster"] for r in final if r["vec_id"] in set(groups[0] + groups[1] + groups[2])}) == 1
    want = sorted(_oracle_rows(BFR_LLOYD_FINAL_SQL, pq))
    assert sorted((r["vec_id"], r["cluster"], r["via"]) for r in final) == want


# ---- the JSON literal helper: FAILFAST, still one folded Literal ----


@pytest.mark.parametrize("value", [[9223372036854775808], [[1, 2], [3]]])
def test_json_literal_rejects_values_outside_the_type(spark, value):
    """PERMISSIVE from_json reads both as NULL without an error."""
    from bfr_clustering_using_pyspark_spark.functions.numeric import json_literal_sql

    df = spark.range(1).select(F.expr(json_literal_sql(value, "array<bigint>")).alias("v"))
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        df.collect()


def test_json_literal_folds_to_one_literal(spark):
    from bfr_clustering_using_pyspark_spark.functions.numeric import json_literal_sql

    df = spark.range(1).select(
        F.expr(json_literal_sql([[1.5, -2.0], [0.1]], "array<array<double>>")).alias("v")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan, plan
    assert df.collect()[0]["v"] == [[1.5, -2.0], [0.1]]
