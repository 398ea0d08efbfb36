"""Plan audit: print physical plans for headline queries and check
scale properties — pushed filters, pruned scans (ReadSchema),
broadcast joins where expected, whole-stage codegen coverage,
exchange (shuffle) counts.

Usage: python tools/explain_audit.py [query ...]

Naming keys audits only those and prints each one's formatted plan.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = {
    # name: (expect_pushed_filter, expect_broadcast, max_exchanges)
    # max_exchanges includes the final presentation orderBy (1 range
    # exchange) — the hash gate doesn't need it but users get
    # deterministic output
    "q1_pricing_summary": (True, False, 2),
    "q3_shipping_priority": (True, True, 4),
    # r15: +1 — the ASIA pre-filter (nation⋈region semi/inner-joined
    # into customer/supplier BEFORE the fact joins, guide §3.2) adds
    # one ENSURE_REQUIREMENTS exchange in the INITIAL plan that AQE
    # collapses at runtime; the executed join inputs are ~5x smaller
    "q5_local_supplier": (True, True, 5),
    "q6_forecast_revenue": (True, False, 1),
    "q_top_customers": (False, True, 3),
    "q_order_priority": (True, True, 3),
    "q_events_windowed": (False, False, 3),  # countDistinct = 2-phase agg
    "q_events_sessionize": (False, False, 2),
    "q_asof_join": (True, False, 2),
    "text_quality": (False, False, 1),
    "dedup_exact": (False, False, 4),  # 3 windows (one per key kind) + sort
    "dedup_ngram_jaccard": (False, False, 3),
    "ann_bruteforce": (False, True, 4),  # r10: +2 textual, see ann_ivf note
    "cluster_profile": (False, False, 2),
    "q10_returned_items": (True, True, 3),
    "q16_supplier_cnt": (True, True, 4),  # distinct-count = 2-phase
    "q18_large_orders": (False, True, 4),
    "q_salted_agg": (False, False, 3),
    "q_merge_upsert": (False, False, 5),  # +1: in-plan max-key 1-row agg (replaced a driver collect)
    "tfidf_top_terms": (False, True, 5),
    # r11 retrieval family: inverted-index joins with broadcast O(1)
    # query sides; exchange budgets include the salted two-phase
    # top-k (2 window exchanges per ranked leg) + presentation sort
    # exchange budgets count TEXTUAL Exchange nodes: the session-
    # cached postings/tf frames (retrieval._cached_frame) print their
    # build plan (spread repartition + agg exchange) inside every
    # InMemoryRelation occurrence, so each consumer branch re-counts
    # it — at runtime those stages execute once per session.
    # r15: _distinct_postings now rides the (doc,term,tf) cache (one
    # tokenize pass per session instead of two), so every postings
    # occurrence textually carries the tf build's groupBy exchange —
    # +4 textual nodes on the two postings consumers for one FEWER
    # executed corpus scan+explode+persist
    "text_bm25": (False, True, 11),
    "q_hybrid_rrf": (False, True, 21),
    "retrieval_eval": (False, True, 22),
    "corpus_train_shuffle": (False, True, 4),
    "q_regression": (False, True, 2),
    "embedding_normalize": (False, False, 1),
    "dedup_fuzzy_names": (False, False, 3),
    "q_date_funcs": (False, False, 2),
    "q7_volume_shipping": (True, True, 3),
    "q9_product_profit": (True, True, 3),
    "q13_cust_distribution": (True, True, 3),
    "q17_small_qty_revenue": (True, True, 4),
    "q22_idle_customers": (True, True, 3),
    "sample_stratified": (False, False, 2),
    "sample_train_split": (False, False, 2),
    # r9: tokenized base is pinned (localCheckpoint) before the
    # bench/corpus split, so the visible plan starts at the
    # checkpoint RDD — no parquet scan to push into
    "decontaminate": (False, True, 5),
    "q21_blame_supplier": (False, True, 4),  # one fact shuffle + agg + dim join + sort
    "q_events_anomaly": (True, False, 2),  # one user_id shuffle + final sort
    "seq_pack": (False, False, 2),  # one shard shuffle + final sort
    # r9: explicit-width grouped-pandas stage + final sort
    "q_asof_grouped": (True, False, 2),
    "model_per_key": (True, False, 2),
    # r9: the registry-wide heavy-filter sweep's remaining keys, now
    # under per-round watch (their filters are whitelisted benign)
    # r10: the signature build (kernel + hot-bucket window) moved into
    # the warehouse artifact store, and the store read is
    # session-cached (persist) — the audited plan's scan is therefore
    # an InMemoryTableScan BY DESIGN (filters ride it as scan
    # predicates), so pushed-into-parquet isn't expected here
    "dedup_minhash_lsh": (False, True, 4),
    "doc_chunk": (False, False, 1),
    "q_ab_test": (False, False, 4),
    "text_bigrams": (False, False, 1),
    "text_clean_pipeline": (True, False, 3),
    "text_winnow_fingerprint": (False, False, 1),
    "corpus_curate": (False, False, 2),  # 1-row funnel pinned; union of 4 selects
    "chunk_boilerplate": (False, True, 4),
    "text_repetition": (False, True, 3),
    "text_unigram_logprob": (False, True, 5),  # dict build + broadcast scalar + score
    "q_countmin_topk": (False, True, 5),
    "q_bloom_filter_join": (True, True, 3),
    "q_histogram": (False, True, 3),  # bounds broadcast + bucket agg + sort
    "q_scd2_history": (True, False, 2),  # one dim-key window + sort
    "q_mad_outliers": (False, True, 5),  # two percentile passes are inherent to MAD
    "q_path_3grams": (False, False, 3),  # user window + path agg + sort
    "q_corr_matrix": (False, False, 2),  # one map pass; materialized moments feed the branches
    "q_survivorship": (False, False, 2),  # one block-key window + sort
    "q_time_to_convert": (False, False, 2),  # user agg + scalar percentile agg
    "q8_market_share": (False, True, 4),
    "q15_top_supplier": (False, True, 3),
    "q_mv_rollup": (False, False, 3),  # daily agg (materialized) + monthly agg + sort
    "q_time_range_agg": (False, False, 2),  # one (type,day) window shuffle + sort
    "mm_pgm_resize": (False, False, 1),  # pure map pipeline, sort only
    "dedup_substring": (False, False, 1),  # eager-checkpointed pair list (inner plan: h window + self-join + diag window; scale props pinned in tests)
    "q_ks_test": (True, True, 4),  # value-grid agg + ECDF window + broadcast totals + max agg
    "sink_shard_manifest": (False, False, 2),  # readback agg + sort (write is a side effect)
    "source_custom_points": (False, False, 1),  # custom source scan + sort
    "q_rfm_segmentation": (False, False, 1),  # eager-checkpointed segments (inner plan: 3 distributed-ntile passes; bit-equality to window ntile pinned in tests/test_ranking.py)
    "q_percentiles": (False, False, 2),
    "q_moving_avg": (False, False, 2),
    "q_window_funcs": (False, False, 3),
    "q_gap_fill": (False, True, 5),
    # round-6 additions (observed static-plan values)
    "q_percentiles_dist": (False, True, 6),  # bucketed window + offsets agg + needed-rank bcast join
    "q_percentiles_approx": (False, False, 2),  # GK sketch agg + sort
    "q_mad_outliers_approx": (False, True, 5),  # two sketch passes, scalars broadcast back
    "csv_roundtrip": (False, False, 1),  # eager-checkpointed aggregate
    "ann_nndescent_graph": (False, False, 1),  # materialized shared build (_nnd_graph cache) + sort; inner build plan: 2 unrolled NN-Descent rounds, bucketed joins (scale props pinned in tests)
    # r10: +2 textual each — the conditional probe-side spread
    # (similarity._base) prints on both the data and query lineages;
    # runtime pays one repartition of the scan (exchange reuse), and
    # only when the layout under-parallelizes
    "ann_ivf": (False, True, 4),
    "ann_pq": (False, True, 4),
    "ann_ivf_rerank": (False, True, 4),
    "q_skew_join": (False, False, 5),  # forced SMJ (no broadcast by design) + demo repartition
    "q_range_frame": (True, False, 2),
    "mm_video_frames": (False, False, 1),
    "q_join_strategies": (True, True, 10),  # 3 strategies x (join + agg) unioned
    "kmeans_lloyd_det": (False, False, 1),  # eager-checkpointed assignment (per-round plans audited via tests)
    "q_mad_outliers_dist": (True, True, 12),  # 2 grouped_rank passes (bucket windows + offset aggs)
    "sink_compact_small_files": (False, False, 1),  # eager-checkpointed manifest aggregate
    # late-round-6 SQL-surface keys (observed static values)
    "q_generator_funcs": (False, False, 2),
    "q_lateral_join": (True, True, 3),
    "q_higher_order_funcs": (False, False, 1),
    "q_recursive_cte": (False, False, 2),
    "q_complex_types": (True, True, 5),
    "q_json_schema_roundtrip": (False, False, 2),
    "q_set_ops_all": (False, False, 0),  # collected scalar counts (bounded, 1-row result)
    "q_schema_evolution": (False, False, 0),  # eager-checkpointed aggregate
    "udf_pandas_scalar": (False, False, 1),
    "stream_upsert_sink": (False, False, 0),  # eager-checkpointed state table
}

# Keys allowed to carry a WindowExec with NO partition key: their
# global-window frame is provably BOUNDED (a calendar spine, a cents
# grid, a per-source handful of rows), not the n-sized input. Every
# other audited key must not funnel the data through one window task.
GLOBAL_WINDOW_OK = {
    "q_gap_fill": "calendar spine (days in range, not rows)",
    "q_ks_test": "rounded-cents value grid (bounded domain)",
    # caught by the r10 full-registry walk, adjudicated benign: the
    # window's input is the groupBy(source) frame — one row per
    # SOURCE (catalog-sized), not per document (documented in the
    # operator's docstring)
    "corpus_mix": "global normalizer over the per-source grouped frame",
    # grouped_rank's prefix-offset window: input is the per-bucket
    # COUNTS frame (<= ranking.MAX_BUCKETS rows, one per range
    # bucket), not the corpus; Catalyst folds the lit(0) partition
    # key away, making the bounded window look global to this parser
    "corpus_train_shuffle": "prefix offsets over the bucket-counts frame (<= MAX_BUCKETS rows)",
    # same machinery, sum flavor (ranking.global_prefix_sum): the
    # window's input is the per-bucket token-SUMS frame
    # (<= MAX_BUCKETS rows); the n-sized running sum is the separate
    # per-bucket-partitioned window above it
    "seq_pack_contig": "prefix offsets over the bucket-sums frame (<= MAX_BUCKETS rows)",
    # the conjunctive-BM25 band rank: input is TakeOrderedAndProject-
    # bounded to CONJ_BAND_START-1+Q*T (27) rows — never the vocabulary
    "text_bm25_conj": "df-band rank over a limit-27 frame",
    "retrieval_conj_eval": "df-band rank over a limit-27 frame",
}

# grouped-pandas keys where AQE collapsing the stage to one task is
# harmless: the group count is catalog-bounded, so one task IS the
# right width (see the narrow_pandas check below)
GROUPED_PANDAS_NARROW_OK = {
    "model_per_key": "5 market segments",
    "seq_pack": "shard count, fixed by contract",
    # aggregates seq_pack's bins — same shard-count-bounded stage
    "seq_pack_eval": "shard count, fixed by contract (seq_pack's stage)",
}


# ----- executable grouped-pandas cardinality contracts (r14) ------ #
# Every grouped-Python stage's boundedness claim is RUN against the
# audit corpus, not just whitelisted: each probe returns
# (observed, bound, desc) and the audit FAILS when observed > bound.
# The bounds are the stages' own constants — a drive-by change to a
# grouping key or cap that breaks the contract breaks the audit.


def _probe_model_per_key(spark, sf_dir):
    # grouping key = c_mktsegment: catalog-bounded (TPC-H has 5)
    n = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_mktsegment")
        .distinct()
        .count()
    )
    return n, 5, "distinct c_mktsegment groups"


def _probe_seq_pack(spark, sf_dir):
    # grouping key = md5(doc_id) % PACK_SHARDS, computed with the
    # stage's OWN constant — observed shard cardinality can never
    # exceed it, and the probe pins the constant against drift
    from pyspark.sql import functions as F

    from bfr_clustering_using_pyspark_spark.operators.sampling import PACK_SHARDS

    n = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            (
                F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
                .cast("long")
                % PACK_SHARDS
            ).alias("shard")
        )
        .distinct()
        .count()
    )
    return n, PACK_SHARDS, "independent packing shards"


def _probe_asof_grouped(spark, sf_dir):
    # contract: groups hotter than ASOF_GROUP_CAP are routed to the
    # spill-safe window fallback and the routed union is semantically
    # identical to the pure pandas path. FALSIFIABLE (r15, ADVICE):
    # instead of re-filtering the data to n <= cap (which can never
    # exceed the bound by construction), EXECUTE the stage's own gate
    # with a cap far below the corpus's hottest user — forcing the
    # fallback to actually fire — and fail unless (a) the forced run
    # really routed hot users off the pandas path and (b) its output
    # is row-identical to the default run. A broken gate expression,
    # a desync between the gate's frame and the pandas input, or a
    # wrong fallback formulation all flip observed to nonzero.
    from pyspark.sql import functions as F

    from bfr_clustering_using_pyspark_spark.plans.tpch_ext import q_asof_grouped

    forced_cap = 5
    n_hot = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("purchase", "view", "click"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > forced_cap)
        .count()
    )
    if n_hot == 0:
        return 1, 0, f"vacuous: no user exceeds forced cap {forced_cap}"
    forced = sorted(map(tuple, q_asof_grouped(spark, sf_dir, group_cap=forced_cap).collect()))
    default = sorted(map(tuple, q_asof_grouped(spark, sf_dir).collect()))
    return (
        0 if forced == default else 1,
        0,
        f"window-fallback ≡ pandas path with cap={forced_cap} forced ({n_hot} hot users routed)",
    )


def _probe_sessionize_state(spark, sf_dir):
    # contract: per-key state is a FIXED-WIDTH tuple (horizontal
    # partitioning carries the key count; state must not grow with a
    # user's event volume). FALSIFIABLE (r15, ADVICE): parse the
    # schema ACTUALLY PASSED at the applyInPandasWithState call site
    # (not the shared constant it happens to reference today) and
    # fail on any variable-width / nested field or on field growth —
    # a drive-by change to an inline "events array<long>" state
    # breaks this probe even though the constant is untouched.
    import inspect
    import re

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        TimestampType,
        _parse_datatype_string,
    )

    import bfr_clustering_using_pyspark_spark.streaming.events_stream as es

    src = inspect.getsource(es.stream_sessionize_stateful)
    m = re.search(
        r"stateStructType\s*=\s*([A-Za-z_]\w*|\"[^\"]+\"|'[^']+')", src
    )
    if not m:
        return 99, 4, "stateStructType argument not found at call site"
    ref = m.group(1)
    schema_str = ref.strip("\"'") if ref[0] in "\"'" else getattr(es, ref)
    st = _parse_datatype_string(schema_str)
    fixed = (BooleanType, IntegerType, LongType, FloatType, DoubleType, TimestampType)
    n_var = sum(1 for f in st.fields if not isinstance(f.dataType, fixed))
    # variable-width fields are weighted so ANY of them trips the
    # 4-field bound regardless of count
    return (
        n_var * 100 + len(st.fields),
        4,
        f"call-site state fields ({len(st.fields)} fixed-width, {n_var} variable-width)",
    )


GROUPED_PANDAS_CONTRACTS = {
    "model_per_key": _probe_model_per_key,
    "seq_pack": _probe_seq_pack,
    # seq_pack_eval / seq_pack_contig aggregate seq_pack's shard
    # stage — one probe covers the shared grouping key
    "seq_pack_eval": _probe_seq_pack,
    "q_asof_grouped": _probe_asof_grouped,
    "stream_sessionize_stateful": _probe_sessionize_state,
}

# keys whose Filter legitimately evaluates a heavy kernel: a GENUINE
# single-branch semantic predicate evaluated once per row in one scan
# pass (the tokenizer runs in Filter + Project of the SAME pass — a
# bounded 2x, not the per-branch/per-predicate multiplication the
# warn exists for), or a predicate that IS the operator's semantics.
# Audited r9 registry-wide sweep: every other heavy-filter site was
# eliminated (coalesce non-nullability or an eager pin).
HEAVY_FILTER_OK = {
    "dedup_minhash_lsh": "size(toks)>=3 gate; build persisted, one pass",
    "doc_chunk": "size(toks)>0 gate, single branch",
    "text_bigrams": "size(toks)>=2 gate, single branch",
    "text_clean_pipeline": "the quality predicate IS the operator",
    "text_winnow_fingerprint": "min-length gate, single branch",
    "q_ab_test": "md5 arm-assignment predicate IS the A/B split",
}

# The TPC-H family must have non-vacuous whole-stage codegen: these
# plans are pure built-in-expression pipelines, so 0 codegen subtrees
# would mean the fused JVM path silently broke.
MIN_CODEGEN = {
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q_top_customers", "q_order_priority",
    "q10_returned_items", "q16_supplier_cnt", "q18_large_orders",
    "q7_volume_shipping", "q9_product_profit", "q13_cust_distribution",
    "q17_small_qty_revenue", "q22_idle_customers", "q21_blame_supplier",
    "q8_market_share", "q15_top_supplier",
}


def _spec_args(s: str, start: int) -> list[str]:
    """Top-level comma-split of the parenthesized args starting at
    ``start`` (the index of the opening paren)."""
    depth, args, cur = 0, [], []
    for ch in s[start:]:
        if ch == "(":
            depth += 1
            if depth == 1:
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                break
        if depth >= 1:
            if ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
    return args


def count_global_windows(plan: str) -> int:
    """Window nodes whose spec has NO partition columns — the
    one-task-swallows-everything shape. Parsed from each node's first
    ``windowspecdefinition(partCols…, orderCols…, frame)``: a global
    spec's first arg is an ORDER expression (carries ASC/DESC) or the
    frame itself. WindowGroupLimit nodes are ignored — they keep ≤k
    rows per group per input partition, so even a global top-k rank
    is bounded, never n-sized."""
    n = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"\(\d+\) Window\b", line.strip()):
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            if lines[j].startswith("Arguments:"):
                k = lines[j].find("windowspecdefinition(")
                if k < 0:
                    break
                args = _spec_args(lines[j], k + len("windowspecdefinition"))
                if not args:
                    break
                first = args[0]
                if (
                    first.startswith("specifiedwindowframe")
                    or " ASC" in first
                    or " DESC" in first
                ):
                    n += 1
                break
    return n


def run_audit(
    spark,
    sf_dir: str = "/root/testdata/sf0.01",
    only: set[str] | None = None,
    verbose: bool = True,
) -> tuple[list[str], list[str]]:
    """Audit physical plans. Walks the ENTIRE registry by default:
    keys with an AUDIT entry get their per-key exchange/pushdown/
    broadcast/codegen budgets; EVERY key gets the universal checks —
    heavy-kernel-in-Filter (the pushed-down-recompute defect class),
    grouped-pandas stage width, unpartitioned n-sized windows.
    Returns (failures, warns); a clean HEAD has both empty."""
    from bfr_clustering_using_pyspark_spark.plans import all_queries

    # AQE wraps plans in AdaptiveSparkPlan, which reports "Found 0
    # WholeStageCodegen subtrees" before execution — disable it here
    # so the codegen count is the real static-plan number. (The
    # exchange/pushdown/broadcast checks read the same static plan
    # AQE would start from, so they are unaffected.)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # Audit FRESH plans: leftover persisted frames from earlier work
    # in the same session make the CacheManager substitute
    # InMemoryTableScan for matching subtrees, silently changing the
    # plan under audit (scans lose PushedFilters, exchange counts
    # shift) — the budgets would then depend on test ordering.
    spark.catalog.clearCache()
    qs = all_queries()
    failures: list[str] = []
    warned: list[str] = []
    try:
        for name in qs:
            if only and name not in only:
                continue
            spec = AUDIT.get(name)
            want_push, want_bcast, max_exch = spec if spec else (False, False, None)
            df = qs[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = qe.explainString(mode.fromString("formatted"))
            pushed = "PushedFilters: [" in plan and re.search(r"PushedFilters: \[[^\]]+\]", plan)
            bcast = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
            # count only real shuffles ("Exchange (n)" tree nodes), not
            # BroadcastExchange
            n_exch = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
            m = re.search(
                r"Found (\d+) WholeStageCodegen subtrees",
                qe.explainString(mode.fromString("codegen")),
            )
            codegen = int(m.group(1)) if m else 0
            n_gw = count_global_windows(plan)
            # Universal check (runs on EVERY registry plan, r10): a
            # Filter node whose condition evaluates a heavy string/
            # array kernel is the pushed-down-recompute smell found in
            # r8 — Catalyst pushing a derived join key's isnotnull
            # below an exchange and re-deriving the whole
            # regexp->shingle->md5 pipeline per predicate per row.
            # Predicates should test materialized columns; a hit here
            # usually means the built table wants an eager
            # localCheckpoint before its self-join.
            heavy_filters = 0
            if name not in HEAVY_FILTER_OK:
                for fm in re.finditer(r"\(\d+\) Filter[^\n]*\nInput[^\n]*\nCondition : ([^\n]+)", plan):
                    if re.search(
                        r"regexp_extract_all|xxhash64|array_min\(transform|aggregate\("
                        r"|md5\(|sha2\(|levenshtein\(|array_intersect\(|array_sort\(",
                        fm.group(1),
                    ):
                        heavy_filters += 1
            # Universal check: a grouped-pandas stage
            # (FlatMapGroupsInPandas) fed by an ENSURE_REQUIREMENTS
            # exchange is subject to AQE size-based coalescing, which
            # prices the stage by BYTES while its real cost is
            # per-GROUP Python/Arrow overhead — on a small corpus AQE
            # collapses it to one task and serializes every group
            # (r9: q_asof_grouped 9.7s -> 1.5s after an explicit
            # REPARTITION_BY_NUM). Keys whose group count is
            # catalog-bounded (a handful of groups — one task is FINE)
            # are whitelisted.
            narrow_pandas = (
                "FlatMapGroupsInPandas" in plan
                and "REPARTITION_BY_NUM" not in plan
                and name not in GROUPED_PANDAS_NARROW_OK
            )
            probs = []
            if want_push and not pushed:
                probs.append("no pushed filters")
            if want_bcast and not bcast:
                probs.append("no broadcast join")
            if max_exch is not None and n_exch > max_exch:
                probs.append(f"{n_exch} exchanges (max {max_exch})")
            if n_gw and name not in GLOBAL_WINDOW_OK:
                probs.append(f"{n_gw} unpartitioned window(s) over an n-sized frame")
            if name in MIN_CODEGEN and codegen < 1:
                probs.append("no whole-stage codegen subtree")
            status = "OK " if not probs else "BAD"
            warn = f" WARN:{heavy_filters}-heavy-expr-filter(s)" if heavy_filters else ""
            if narrow_pandas:
                warn += " WARN:grouped-pandas-stage-coalescible"
            if verbose:
                print(f"{status} {name}: exchanges={n_exch} codegen_spans={codegen} "
                      f"pushed={bool(pushed)} broadcast={bcast} global_windows={n_gw}"
                      f"{warn} {'; '.join(probs)}", flush=True)
            if verbose and only:
                print(plan)
            if heavy_filters or narrow_pandas:
                warned.append(name)
            if probs:
                failures.append(name)
        # executable grouped-pandas cardinality contracts: run each
        # stage's boundedness probe against the audit corpus — no
        # grouped-Python stage is whitelist-only
        for name, probe in GROUPED_PANDAS_CONTRACTS.items():
            if name not in qs or (only and name not in only):
                continue
            observed, bound, desc = probe(spark, sf_dir)
            ok = observed <= bound
            if verbose:
                print(
                    f"{'OK ' if ok else 'BAD'} {name}: grouped-pandas contract "
                    f"{desc}: observed={observed} bound={bound}",
                    flush=True,
                )
            if not ok:
                failures.append(
                    f"{name}: grouped-pandas contract '{desc}' violated: "
                    f"{observed} > {bound}"
                )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    if verbose:
        print("\nfailures:", failures or "none")
        print("warns:", warned or "none")
    return failures, warned


def main() -> None:
    from bfr_clustering_using_pyspark_spark.session import get_spark

    spark = get_spark("explain_audit")
    failures, warned = run_audit(spark, only=set(sys.argv[1:]) or None)
    spark.stop()
    # warns are gate failures too: every known-benign heavy filter or
    # narrow pandas stage must be whitelisted with a justification
    if failures or warned:
        sys.exit(1)


if __name__ == "__main__":
    main()
