"""Scalable oracle variants for the keys whose per-round DuckDB
oracles are pair-exhaustive / recursive / pinned — the r10 sf1
exclusion list. Each variant computes the SAME answer by a different
(still Spark-independent) formulation that stays tractable at the
sf1 decade and beyond:

- ``dedup_minhash_lsh``: the all-pairs Jaccard ground truth rewritten
  as an INVERTED-INDEX join (explode shingles, join on shingle,
  group-count = intersection). Cost is sum_s f_s^2 (~125M rows at
  sf1, measured) instead of n^2 (2.5B pairs) — and it is EXACT, not
  sampled: every pair with J >= 0.7 shares shingles, so the answer
  set is identical to the quadratic oracle's.
- ``dedup_components`` / ``stream_components``: inverted-index pair
  ground truth + a driver union-find closure (replaces the
  recursive-CTE transitive closure whose depth blows up in DuckDB).
- ``silhouette_eval``: blocked numpy replay of the exact O(n^2)
  silhouette — same left-fold dim order, same half-up 1e-6-unit
  integer rounding — using BLAS-free per-dim accumulation so the
  float arithmetic is bit-identical to both engines' sequential
  folds.
- ``seq_pack``: DuckDB computes the per-doc token counts + shard
  keys; the greedy next-fit fold is replayed ITERATIVELY in Python
  (O(n)) instead of a recursive CTE whose every step rescans the
  doc table.
- ``ann_ivf`` / ``ann_ivf_rerank`` / ``ann_ivf_partitioned``: the
  oracle builders are parameterized by list count (r11); above
  IVF_SMALL_N the sweep builds the 32-list SQL matching the engine's
  constant large-regime layout.

Used by ``tools/check_correctness.py --scalable <sf_dir>`` (the sf
sweep) and importable from tests. The gate at sf0.01 keeps the
original single-SQL oracles — this module exists so the SCALE decade
is hash-verified too.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))

from bfr_clustering_using_pyspark_spark.operators.sampling import (  # noqa: E402
    PACK_BUDGET,
    PACK_SHARDS,
)

# ---------------------------------------------------------------- minhash

# Inverted-index formulation of the exhaustive all-pairs Jaccard >= 0.7
# ground truth (same rounding discipline as _MINHASH_PAIRS_CTE:
# scale-0 round at 1e-4 units, filter the ROUNDED value).
MINHASH_PAIRS_INVERTED_CTE = """
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                for i in generate_series(1, len(toks) - 2)]) AS shingles
  FROM t WHERE len(toks) >= 3
), sz AS MATERIALIZED (
  SELECT doc_id, len(shingles) AS n FROM sh
), ex AS MATERIALIZED (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT * FROM (
    SELECT doc_a, doc_b,
           CAST(round(i * 1e0 / (sa.n + sb.n - i) * 1e4) AS BIGINT) / 1e4 AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
  ) WHERE jaccard >= 0.7
)"""

DEDUP_MINHASH_LSH_INVERTED_SQL = f"""
WITH {MINHASH_PAIRS_INVERTED_CTE}
SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
"""


def _components_rows(con) -> tuple[list[str], list[tuple]]:
    """(doc_id, comp) closure over the inverted-index pair ground
    truth via union-find — linear in pairs, no recursion depth."""
    from bfr_clustering_using_pyspark_spark.operators.dedup import (
        uf_labels,
        uf_union,
    )

    pairs = con.sql(
        f"WITH {MINHASH_PAIRS_INVERTED_CTE} SELECT doc_a, doc_b FROM pairs"
    ).fetchall()
    parent: dict = {}
    for a, b in pairs:
        uf_union(parent, int(a), int(b))
    return ["doc_id", "comp"], uf_labels(parent)


# ---------------------------------------------------------------- seq_pack

SEQ_PACK_BASE_SQL = f"""
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % {PACK_SHARDS} AS shard,
       doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
FROM documents ORDER BY shard, doc_id
"""


def _seq_pack_rows(con) -> tuple[list[str], list[tuple]]:
    """Greedy next-fit replayed as a plain O(n) fold over the
    DuckDB-computed (shard, doc_id, tokens) base — the iterative
    materialization of the recursive CTE (whose depth = rows/shard
    made DuckDB rescan the doc table 6250 times at sf1)."""
    rows = con.sql(SEQ_PACK_BASE_SQL).fetchall()
    out: list[tuple] = []
    cur_shard = None
    bin_id = fill = n = chk = 0

    def flush() -> None:
        # fill/PACK_BUDGET is dyadic (PACK_BUDGET = 512) so the 4dp
        # scaling below is EXACT — but exact .5 ties DO occur (e.g.
        # 464/512 = 0.90625) and both engines round HALF_UP, while
        # Python's round() is half-even: replicate half-up explicitly
        frac = math.floor(fill / PACK_BUDGET * 1e4 + 0.5) / 1e4
        out.append((cur_shard, bin_id, n, fill, frac, chk))

    for shard, doc_id, t in rows:
        t = int(t)
        if shard != cur_shard:
            if cur_shard is not None:
                flush()
            cur_shard, bin_id, fill, n, chk = shard, 0, t, 1, int(doc_id)
        elif fill + t > PACK_BUDGET:
            flush()
            bin_id, fill, n, chk = bin_id + 1, t, 1, int(doc_id)
        else:
            fill, n, chk = fill + t, n + 1, chk + int(doc_id)
    if cur_shard is not None:
        flush()
    cols = ["shard", "bin", "n_docs", "bin_tokens", "fill_frac", "id_checksum"]
    return cols, sorted(out)


# ------------------------------------------------------- bloom (inverted)


def _bloom_inverted_sql() -> str:
    """Scalable q_bloom_filter_join oracle: probe each DISTINCT
    o_custkey once (the per-order formulation hashes + list_has_all's
    every ORDER row — 728 s at sf1), decide bloom_pass via an
    equi-join on bit (a key passes iff ALL of its distinct hash bits
    are set), then fan the per-key verdict back onto orders with one
    join. Same values as Q_BLOOM_FILTER_JOIN_SQL by construction:
    list_has_all(bits, hashes) ≡ count(distinct hash bits ∩ bits) =
    count(distinct hash bits)."""
    from bfr_clustering_using_pyspark_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        _md5_bucket_sql,
    )

    build_bits = " UNION ALL ".join(
        f"SELECT {_md5_bucket_sql('CAST(c_custkey AS VARCHAR)', s, BLOOM_M)} AS bit FROM build"
        for s in range(BLOOM_K)
    )
    probe_hashes = ", ".join(
        _md5_bucket_sql("CAST(o_custkey AS VARCHAR)", s, BLOOM_M) for s in range(BLOOM_K)
    )
    return f"""
WITH build AS MATERIALIZED (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
), bits AS MATERIALIZED (
  SELECT DISTINCT bit FROM ({build_bits})
), pk AS MATERIALIZED (
  SELECT DISTINCT o_custkey FROM orders
), kh AS MATERIALIZED (
  SELECT o_custkey, unnest(list_distinct([{probe_hashes}])) AS bit FROM pk
), khn AS (
  SELECT o_custkey, count(*) AS nb FROM kh GROUP BY 1
), hit AS (
  SELECT k.o_custkey, count(*) AS nhit FROM kh k JOIN bits b USING (bit) GROUP BY 1
), keyverdict AS MATERIALIZED (
  SELECT n.o_custkey,
         CASE WHEN coalesce(h.nhit, 0) = n.nb AND b.c_custkey IS NOT NULL THEN 'true_positive'
              WHEN coalesce(h.nhit, 0) = n.nb THEN 'false_positive'
              ELSE 'rejected' END AS verdict
  FROM khn n
  LEFT JOIN hit h USING (o_custkey)
  LEFT JOIN build b ON n.o_custkey = b.c_custkey
)
SELECT verdict, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN keyverdict kv USING (o_custkey)
GROUP BY 1 ORDER BY verdict
"""


def _seq_pack_eval_rows(con) -> tuple[list[str], list[tuple]]:
    """seq_pack_eval's scalable oracle: aggregate the iterative
    packer replay (same bins as _seq_pack_rows) into the per-shard
    efficiency report, replicating the engine's integer padding sums
    and scale-0 HALF_UP padding fraction."""
    import math as _math

    _cols, bins = _seq_pack_rows(con)
    agg: dict = {}
    for shard, _bin, n_docs, fill, _frac, _chk in bins:
        a = agg.setdefault(shard, [0, 0, 0, 0, 0])
        a[0] += 1                                  # n_bins
        a[1] += int(n_docs)                        # n_docs
        a[2] += int(fill)                          # total_tokens
        a[3] += max(PACK_BUDGET - int(fill), 0)    # padding_tokens
        a[4] += 1 if int(fill) > PACK_BUDGET else 0  # oversize
    out = []
    for shard in sorted(agg):
        n_bins, n_docs, tok, pad, over = agg[shard]
        frac = _math.floor(pad * 1e4 / (n_bins * PACK_BUDGET) + 0.5) / 1e4
        out.append((shard, n_bins, n_docs, tok, pad, over, frac))
    return (
        ["shard", "n_bins", "n_docs", "total_tokens", "padding_tokens",
         "oversize_bins", "padding_frac"],
        out,
    )


# ------------------------------------------------------------- silhouette


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """HALF_UP (away from zero) — numpy's rint is half-even, but both
    Spark's F.round and DuckDB's round() round .5 away from zero."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def _silhouette_rows(con, block: int = 4096) -> tuple[list[str], list[tuple]]:
    """Blocked numpy replay of the exact pairwise silhouette.

    Since r13 the engine quantizes coordinates to 1e-4 INTEGER units
    before the distance, so every pairwise squared distance is an
    exact BIGINT (≤ ~7e9 « 2^53). Exact integers represented in
    float64 stay exact through ‖a‖² + ‖b‖² − 2a·b — including inside
    a BLAS dgemm, whose reassociation only ever reorders EXACT
    additions — so the replay is one matmul per block (seconds at
    sf1) instead of the old per-dim left fold (484 s at sf1), with
    bit-identical results."""
    data = con.sql(
        "SELECT vec_id, label,"
        " list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT)) AS xi"
        " FROM embeddings ORDER BY vec_id"
    ).fetchall()
    vec_ids = np.array([r[0] for r in data], dtype=np.int64)
    labels = np.array([r[1] for r in data], dtype=np.int64)
    X = np.array([r[2] for r in data], dtype=np.float64)  # int-valued, exact
    n, d = X.shape
    uniq = np.sort(np.unique(labels))
    lab_index = {int(l): i for i, l in enumerate(uniq)}
    col_lab = np.array([lab_index[int(l)] for l in labels])
    # presort columns by label for reduceat-style grouped sums
    order = np.argsort(col_lab, kind="stable")
    Xs, labs_sorted = X[order], col_lab[order]
    bounds = np.searchsorted(labs_sorted, np.arange(len(uniq) + 1))
    counts = np.diff(bounds)  # points per label

    norms_s = (Xs * Xs).sum(axis=1)  # exact: ≤ 64·(1.1e4)² ≈ 7e9
    a_vals = np.empty(n)
    b_vals = np.empty(n)
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        B = X[lo:hi]
        nb = (B * B).sum(axis=1)
        acc = nb[:, None] + norms_s[None, :] - 2.0 * (B @ Xs.T)  # exact ints
        np.maximum(acc, 0.0, out=acc)  # guard the exact-0 diagonal
        units = _round_half_away(np.sqrt(acc) / 1e4 * 1e6).astype(np.int64)
        # grouped sums per o_label (columns are label-sorted)
        sums = np.add.reduceat(units, bounds[:-1], axis=1)
        cnts = counts[None, :].astype(np.float64).repeat(hi - lo, axis=0)
        own = col_lab[lo:hi]
        rows_idx = np.arange(hi - lo)
        # self-pair exclusion: d=0 contributes 0 to the sum; count-1
        cnts[rows_idx, own] -= 1.0
        mean_d = (sums.astype(np.float64) / cnts) / 1e6
        a = mean_d[rows_idx, own]
        masked = mean_d.copy()
        masked[rows_idx, own] = np.inf
        b = masked.min(axis=1)
        a_vals[lo:hi] = a
        b_vals[lo:hi] = b
    s_units = _round_half_away((b_vals - a_vals) / np.maximum(a_vals, b_vals) * 1e6)
    out = []
    for l in uniq:
        m = labels == l
        cnt = int(m.sum())
        mean_sil = (
            float(_round_half_away(np.array([s_units[m].sum() * 1.0 / cnt / 100.0]))[0])
            / 10000.0
        )
        out.append((int(l), cnt, mean_sil))
    return ["label", "n_points", "mean_silhouette"], out


# ------------------------------------------------------------------ API


def overrides(sf_dir: str, con) -> dict[str, object]:
    """key -> scalable oracle: either a SQL string (run through the
    same DuckDB connection/views as the standard gate) or a callable
    ``(con) -> (cols, rows)``."""
    import duckdb  # noqa: F401 — con is an open duckdb connection

    from bfr_clustering_using_pyspark_spark.operators.similarity import (
        _graph_search_oracle_sql,
        _ivf_partitioned_oracle_sql,
        _recall_curve_sql,
        _ivf_rerank_oracle_sql,
        _ivfpq_oracle_sql,
        _n_ivf_lists,
    )

    n_emb = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    n_lists = _n_ivf_lists(n_emb)
    ivf_sql = _ivf_partitioned_oracle_sql(n_lists)
    return {
        "q_bloom_filter_join": _bloom_inverted_sql(),
        "dedup_minhash_lsh": DEDUP_MINHASH_LSH_INVERTED_SQL,
        "dedup_components": _components_rows,
        "stream_components": _components_rows,
        "seq_pack": _seq_pack_rows,
        "seq_pack_eval": _seq_pack_eval_rows,
        "silhouette_eval": _silhouette_rows,
        "ann_ivf": ivf_sql,
        "ann_ivf_partitioned": ivf_sql,
        # the streaming index face shares the batch layout's oracle,
        # so it shares its list-count regime too
        "stream_ann_index": ivf_sql,
        "ann_ivf_rerank": _ivf_rerank_oracle_sql(n_lists),
        # the recall curve replays brute force + three probe widths —
        # each IVF leg inherits the large-regime list count
        "ann_recall_curve": _recall_curve_sql(n_lists),
        "ann_ivfpq": _ivfpq_oracle_sql(n_lists),
        # the graph search's IVF-routed entries (r11) inherit the
        # same list-count regime as the IVF family
        "ann_graph_search": _graph_search_oracle_sql(n_lists),
    }
