"""Scale guard: every driver materialization in the package must be
BOUNDED (1-row aggregates, O(k·d) model state, sketch cells, bounded
query/anchor id lists, reference output contracts) — never O(n) in
the data. The n-sized cases all use eager ``localCheckpoint`` (data
stays on executors) or a parquet staging dir instead.

This test pins the per-file count of driver-materialization calls
(.collect() / .toPandas() / .toArrow() / .first() ...) against a justified whitelist.
Adding a new one fails here until it is justified below — the same
audit the round verdicts run by hand, automated.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "bfr_clustering_using_pyspark_spark"

# any driver-materialization entry point, with or without arguments
# (.take(n), .head(n), .toArrow(), .toLocalIterator() included — a guard that
# only matched the no-arg spellings could be bypassed silently);
# (?<!F) excludes the aggregate/window FUNCTIONS F.first()/F.head()
# etc., which run on executors
PATTERN = re.compile(r"(?<!F)\.(collect|toPandas|toArrow|first|take|head|toLocalIterator)\(")

# relpath -> (expected_count, justification)
WHITELIST = {
    "sources/sinks.py": (1, "Arrow collect of the reference JSON map (bfr.py:463-464 contract)"),
    "ml/bfr.py": (3, "1-row id-range agg; Arrow collects of the seeded init sample (<= INIT_SAMPLE_CAP rows) and of each chunk's feedback (O(k*d) suffstats partials plus the chunk's RS points)"),
    "ml/kmeans.py": (1, "O(num_batches) inertia partial-sum fold (get_inertia)"),
    "ml/metrics.py": (1, "O(k^2) contingency table for NMI"),
    "plans/ml_queries.py": (5, "_lloyd_rounds: O(k*d) centroid sums per Lloyd round (kmeans_lloyd_det and the det-BFR init); _bdet_init_assign: K one-row farthest-point TakeOrdereds (2 head sites); _bdet_fold: <=K+1 integer-moment rows per chunk (every det-BFR face and stream_bfr_rounds); cap/regate epoch: <=BDET_CS_RETAIN (vec_id, xi) rows per chunk, which are the CS pool — all bounded by k*d or the constant pool cap, never n"),
    "plans/events.py": (1, "per-event-type counts (bounded by distinct types)"),
    "plans/tpch_ext.py": (2, "per-returnflag counts (3 rows) for rank medians; q_asof_grouped hot-group gate: <= total/group_cap over-cap user ids (map-side-combined count agg, empty on production-shaped corpora)"),
    "operators/ranking.py": (1, "bucket-cut sketch: <=MAX_BUCKETS doubles per expression"),
    "operators/dedup.py": (4, "1-row agg (corpus-level scalars); CC small-edge gate: <=CC_SMALL_PAIRS pair rows collected for driver union-find (counted BEFORE the branch; distributed propagation is the default scale path); 1-row LSH_ORACLE_N guard agg (count+max over the persisted signature store, once per cache entry); dedup_cascade 1-row flag-sum head fanning out to the 4-row attrition report"),
    "operators/similarity.py": (4, "2 dim probes (1 row); bounded probe-id list (<=20 queries); 16 PQ anchor vectors"),
    "operators/embeddings_ops.py": (4, "dim probe; O(d^2) covariance/eigh input for PCA; 64-int mean + d^2-int gram matrix for pca_power_det"),
    "operators/retrieval.py": (2, "two 1-row corpus token-total aggs (BM25 avgdl scalar; one per query-term family)"),
    "operators/bpe.py": (1, "O(1) top-pair row per merge round (TakeOrderedAndProject limit 1, <= R_MERGES rounds) — the kmeans_lloyd_det per-round driver-feedback contract"),
    "operators/multimodal.py": (1, "1-row max(n_chars) agg sizing the Arrow record cap to the payload byte budget"),
    "streaming/docs_stream.py": (3, "CMS partial cells per batch (<= d*w counters); stream_components driver-tier fold: <=driver_gate pair rows per batch (counted before the collect; distributed incremental fold beyond the bounds); stream_ann_index probe-list ids (<= n_lists values, drives partition pruning)"),
    "streaming/events_stream.py": (1, "8-bucket partial aggregates per batch (stream_bfr_update); stream_bfr_rounds folds through plans/ml_queries._bdet_fold"),
}


def _counts():
    got = {}
    for py in sorted(PKG.rglob("*.py")):
        n = len(PATTERN.findall(py.read_text()))
        if n:
            got[str(py.relative_to(PKG))] = n
    return got


def test_driver_materializations_are_whitelisted():
    got = _counts()
    want = {k: v[0] for k, v in WHITELIST.items()}
    unexpected = {k: n for k, n in got.items() if k not in want}
    assert not unexpected, (
        f"NEW driver materialization site(s) {unexpected}: justify each "
        "as bounded (add to WHITELIST with a reason) or rewrite with "
        "localCheckpoint/staging so the data never rides the driver"
    )
    drifted = {k: (n, want[k]) for k, n in got.items() if want.get(k) != n}
    assert not drifted, (
        f"driver-materialization count drifted (got, expected): {drifted} "
        "— update the WHITELIST justification if the new count is bounded"
    )
    missing = {k for k in want if k not in got}
    assert not missing, f"stale WHITELIST entries (sites removed): {missing}"
