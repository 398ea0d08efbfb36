"""ANN recall vs brute force + stateful streaming sessionizer."""

from bfr_clustering_using_pyspark_spark.operators.similarity import (
    ann_bruteforce,
    ann_ivf,
    ann_ivf_rerank,
    ann_lsh,
    ann_lsh_multiprobe,
)
from bfr_clustering_using_pyspark_spark.plans.events import q_events_sessionize
from bfr_clustering_using_pyspark_spark.streaming import QUERIES as STREAM_QUERIES
from tests.conftest import SF_SMALL


def _neighbor_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


class TestANNRecall:
    def test_ivf_recall(self, spark):
        exact = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
        approx = _neighbor_sets(ann_ivf(spark, SF_SMALL))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        # nprobe=4 of 16 lists on weakly-clustered data: expect
        # meaningful but partial recall (measured 0.46 with the md5
        # quantizer at sf0.001)
        assert hits / total > 0.3
        # every query answered
        assert set(approx) == set(exact)

    def test_ivf_matches_partitioned_layout(self, spark):
        """ann_ivf (logical plan) and ann_ivf_partitioned (physical
        parquet layout + directory pruning) share one quantizer — the
        two executions must agree row for row."""
        from bfr_clustering_using_pyspark_spark.operators.similarity import (
            ann_ivf_partitioned,
        )

        logical = {tuple(r) for r in ann_ivf(spark, SF_SMALL).collect()}
        physical = {tuple(r) for r in ann_ivf_partitioned(spark, SF_SMALL).collect()}
        assert logical == physical and logical

    def test_ivf_rerank_recall_vs_plain_ivf(self, spark):
        exact = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
        plain = _neighbor_sets(ann_ivf(spark, SF_SMALL))
        rerank = _neighbor_sets(ann_ivf_rerank(spark, SF_SMALL))
        total = sum(len(v) for v in exact.values())
        hits_plain = sum(len(exact[q] & plain.get(q, set())) for q in exact)
        hits_rr = sum(len(exact[q] & rerank.get(q, set())) for q in exact)
        # the truncated-dot shortlist prunes candidates BEFORE the
        # exact pass — recall may drop only modestly vs plain IVF
        # (same probed lists), and every query must still be answered
        assert set(rerank) == set(exact)
        assert hits_rr / total > 0.25
        assert hits_rr >= hits_plain * 0.6
        # shortlist bound respected: <= TOP_K rows per query
        for ns in rerank.values():
            assert len(ns) <= 5

    def test_multiprobe_lifts_lsh_recall(self, spark):
        exact = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
        single = _neighbor_sets(ann_lsh(spark, SF_SMALL))
        multi = _neighbor_sets(ann_lsh_multiprobe(spark, SF_SMALL))
        hits_s = sum(len(exact[q] & single.get(q, set())) for q in exact)
        hits_m = sum(len(exact[q] & multi.get(q, set())) for q in exact)
        # probing 9 buckets must never find fewer true neighbors
        assert hits_m >= hits_s
        # and must answer at least as many queries
        assert set(single) <= set(multi)

    def test_lsh_returns_subset_quality(self, spark):
        exact = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
        approx = _neighbor_sets(ann_lsh(spark, SF_SMALL))
        # LSH buckets may drop queries entirely (empty bucket) but
        # whatever it returns must be genuine vectors
        all_ids = {r["vec_id"] for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()}
        for q, ns in approx.items():
            assert ns <= all_ids
            assert q not in ns  # self excluded

    def test_ivf_partitioned_recall(self, spark):
        from bfr_clustering_using_pyspark_spark.operators.similarity import (
            ann_ivf_partitioned,
        )

        exact = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
        approx = _neighbor_sets(ann_ivf_partitioned(spark, SF_SMALL))
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total > 0.3  # measured 0.46 (md5 quantizer, nprobe 4/16)
        assert set(approx) == set(exact)

    def test_ivf_partitioned_prunes_directories(self, spark):
        """The scale claim itself: a probe scan over the partitioned
        layout must read ONLY the probed list_id directories."""
        import tempfile

        from pyspark.sql import functions as F

        from bfr_clustering_using_pyspark_spark.operators.similarity import (
            N_IVF_LISTS,
            _base,
            _centroid_rank_expr,
        )

        base = _base(spark, SF_SMALL)
        assigned = base.withColumn("list_id", _centroid_rank_expr("v")[0]["j"])
        out = tempfile.mkdtemp(prefix="ivf_prune_test_")
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(out)
        n_lists = assigned.select("list_id").distinct().count()
        assert n_lists > 4  # layout actually spread across lists

        probes = [0, 1]
        pruned = spark.read.parquet(out).filter(F.col("list_id").isin(probes))
        # inputFiles() ignores filters; the proof is in the physical
        # plan: the probe predicate must land in PartitionFilters (a
        # planning-time directory prune, not a post-scan filter)
        plan = pruned._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "list_id" in m.group(1), plan
        # and the pruned scan's actual row reach is exactly the two lists
        per_list = {r["list_id"]: r["n"] for r in (
            assigned.groupBy("list_id").agg(F.count("*").alias("n")).collect()
        )}
        want = sum(per_list.get(p, 0) for p in probes)
        assert pruned.count() == want and 0 < want < sum(per_list.values())


class TestSessionWindow:
    def test_native_session_window_matches_batch(self, spark):
        sw = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
            for r in STREAM_QUERIES["stream_session_window"](spark, SF_SMALL).collect()
        }
        b = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
            for r in q_events_sessionize(spark, SF_SMALL).collect()
        }
        assert len(sw) > 0
        for k, v in sw.items():
            assert b.get(k) == v
        assert len(sw) >= len(b) - 10  # watermark-held tail only


class TestStatefulSessionize:
    def test_emitted_sessions_match_batch(self, spark):
        emitted = STREAM_QUERIES["stream_sessionize_stateful"](spark, SF_SMALL).collect()
        batch = q_events_sessionize(spark, SF_SMALL).collect()
        bkeys = {
            (r["user_id"], int(r["session_start"].timestamp() * 1000), r["n_events"], r["session_value"])
            for r in batch
        }
        assert len(emitted) > 0
        for r in emitted:
            assert (r["user_id"], r["start_ms"], r["n_events"], r["session_value"]) in bkeys
        # only still-open tail sessions may be missing
        assert len(emitted) >= len(batch) - spark.read.parquet(
            f"{SF_SMALL}/events.parquet"
        ).select("user_id").distinct().count()


class TestNNDescent:
    def _graph_recall(self, spark, iters):
        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        old = S.NND_ITERS
        S.NND_ITERS = iters
        try:
            truth = _neighbor_sets(ann_bruteforce(spark, SF_SMALL))
            graph = {}
            for r in S.ann_nndescent_graph(spark, SF_SMALL).collect():
                if r["rank"] <= S.TOP_K:
                    graph.setdefault(r["vec_id"], set()).add(r["nbr_id"])
            hits = sum(len(truth[q] & graph.get(q, set())) for q in truth)
            total = sum(len(v) for v in truth.values())
            return hits / total
        finally:
            S.NND_ITERS = old

    def test_recall_after_two_rounds(self, spark):
        """Honest recall bar: ≥0.6 at n=500 (measured 0.74). The test
        embeddings are near-isotropic — NN-Descent's worst case — so
        this is the floor, not the clustered-corpus number."""
        assert self._graph_recall(spark, 2) >= 0.6

    def test_rounds_improve_monotonically(self, spark):
        """The algorithm's core claim: each neighbor-of-neighbor
        round must strictly improve graph recall over the md5 random
        init (measured 0.01 → 0.155 → 0.23 at n=2000)."""
        r0 = self._graph_recall(spark, 0)
        r1 = self._graph_recall(spark, 1)
        r2 = self._graph_recall(spark, 2)
        assert r0 < r1 < r2

    def test_graph_shape(self, spark):
        from bfr_clustering_using_pyspark_spark.operators.similarity import (
            NND_K,
            ann_nndescent_graph,
        )

        rows = ann_nndescent_graph(spark, SF_SMALL).collect()
        per_node = {}
        for r in rows:
            per_node.setdefault(r["vec_id"], []).append(r)
            assert r["vec_id"] != r["nbr_id"]
        assert len(per_node) == 500  # every node has a neighbor list
        for v in per_node.values():
            assert len(v) <= NND_K
            assert sorted(r["rank"] for r in v) == list(range(1, len(v) + 1))


class TestNNDIndexPersistence:
    def test_warehouse_reload_skips_rebuild(self, spark):
        """The NN-Descent index is a persisted artifact: after one
        build, a fresh session (simulated by clearing the in-memory
        cache) must RELOAD the parquet index from the warehouse with
        zero rebuilds, and serve identical edges."""
        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        first = {
            (r["a"], r["b"], r["rank"]): r["cosine"]
            for r in S._nnd_graph(spark, SF_SMALL).collect()
        }
        builds_after_first = S.NND_BUILD_COUNT
        S._NND_GRAPH_CACHE.clear()  # what a process restart does
        reloaded = {
            (r["a"], r["b"], r["rank"]): r["cosine"]
            for r in S._nnd_graph(spark, SF_SMALL).collect()
        }
        assert S.NND_BUILD_COUNT == builds_after_first  # no rebuild
        assert reloaded == first

    def test_stale_app_entries_evicted_on_insert(self, spark):
        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        S._NND_GRAPH_CACHE[("dead-app-id", "x", 1, 1)] = (None, 0)
        S._nnd_graph(spark, SF_SMALL)
        assert ("dead-app-id", "x", 1, 1) not in S._NND_GRAPH_CACHE

    def test_data_edit_invalidates_stored_index(self, spark, tmp_path):
        """Editing the source embeddings must change the artifact
        digest (mtime_ns in the key), forcing a REBUILD instead of
        serving a stale index."""
        import os
        import shutil

        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        d = tmp_path / "corpus"
        d.mkdir()
        shutil.copy(f"{SF_SMALL}/embeddings.parquet", d / "embeddings.parquet")
        S._nnd_graph(spark, str(d))
        builds = S.NND_BUILD_COUNT
        # same data, fresh process simulation -> no rebuild
        S._NND_GRAPH_CACHE.clear()
        S._nnd_graph(spark, str(d))
        assert S.NND_BUILD_COUNT == builds
        # touch the file (content identical, mtime new) -> digest
        # changes -> rebuild
        os.utime(d / "embeddings.parquet")
        S._NND_GRAPH_CACHE.clear()
        S._nnd_graph(spark, str(d))
        assert S.NND_BUILD_COUNT == builds + 1


def test_pq_recall_and_determinism(spark):
    """PQ at 8×4-bit codes (64× compression) + exact re-rank of the
    ADC shortlist must clear recall@5 ≥ 0.6 vs brute force (measured
    0.84 at sf0.001) and be exactly reproducible (anchor-seeded
    codebooks, no RNG anywhere)."""
    from bfr_clustering_using_pyspark_spark.operators.similarity import (
        PQ_QUERY_IDS,
        TOP_K,
        ann_bruteforce,
        ann_pq,
    )
    from tests.conftest import SF_MED

    pq = ann_pq(spark, SF_MED)
    got = {(r["q_id"], r["vec_id"]) for r in pq.collect()}
    truth = {
        (r["q_id"], r["vec_id"])
        for r in ann_bruteforce(spark, SF_MED).collect()
        if r["q_id"] in PQ_QUERY_IDS  # pq's query set is the bounded list
    }
    assert len(got & truth) / len(truth) >= 0.6
    again = {(r["q_id"], r["vec_id"]) for r in ann_pq(spark, SF_MED).collect()}
    assert again == got
    per_q = {}
    for q, v in got:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(n == TOP_K for n in per_q.values())


class TestGraphSearch:
    def test_recall_floor_and_hop_improvement(self, spark):
        """Beam search over the NN-Descent graph: recall ≥ 0.4 at
        n=500 (measured 0.54 — bounded by the 0.74 graph quality on
        these near-isotropic embeddings), and the hops must strictly
        improve over the md5 entry points alone."""
        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        truth = {}
        for r in S.ann_bruteforce(spark, SF_SMALL).collect():
            if r["q_id"] in S.GS_QUERY_IDS:
                truth.setdefault(r["q_id"], set()).add(r["vec_id"])

        def recall(hops):
            old = S.GS_HOPS
            S.GS_HOPS = hops
            try:
                approx = {}
                for r in S.ann_graph_search(spark, SF_SMALL).collect():
                    approx.setdefault(r["q_id"], set()).add(r["vec_id"])
                hits = sum(len(truth[q] & approx.get(q, set())) for q in truth)
                return hits / sum(len(v) for v in truth.values())
            finally:
                S.GS_HOPS = old

        r0, r3 = recall(0), recall(3)
        assert r3 >= 0.4
        assert r3 > r0

    def test_search_shape(self, spark):
        import bfr_clustering_using_pyspark_spark.operators.similarity as S

        rows = S.ann_graph_search(spark, SF_SMALL).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["q_id"], []).append(r)
            assert r["q_id"] != r["vec_id"]
            assert r["q_id"] in S.GS_QUERY_IDS
        for v in per_q.values():
            assert sorted(x["rank"] for x in v) == list(range(1, len(v) + 1))
            assert len(v) <= S.TOP_K


def test_ivfpq_recall_and_containment(spark):
    """IVF-PQ composes the two verified halves: results must be
    reproducible, the candidate set must respect probe routing
    (every result shares a probed list with its query), and recall@5
    vs brute force clears a floor despite BOTH approximations
    stacking (probe pruning x ADC codes)."""
    from pyspark.sql import functions as F

    from bfr_clustering_using_pyspark_spark.operators.similarity import (
        N_PROBE,
        PQ_QUERY_IDS,
        TOP_K,
        _centroid_rank_expr,
        _n_ivf_lists,
        _pq_anchor_units,
        ann_bruteforce,
        ann_ivfpq,
    )
    from tests.conftest import SF_MED

    got_rows = ann_ivfpq(spark, SF_MED).collect()
    got = {(r["q_id"], r["vec_id"]) for r in got_rows}
    truth = {
        (r["q_id"], r["vec_id"])
        for r in ann_bruteforce(spark, SF_MED).collect()
        if r["q_id"] in PQ_QUERY_IDS
    }
    # both approximations stack: lower floor than pure PQ (0.6)
    assert len(got & truth) / len(truth) >= 0.3
    assert {(r["q_id"], r["vec_id"]) for r in ann_ivfpq(spark, SF_MED).collect()} == got
    per_q = {}
    for q, _v in got:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(n <= TOP_K for n in per_q.values())
    # probe-routing containment: result vec's list must be among the
    # query's probed lists
    unit, _books = _pq_anchor_units(spark, SF_MED)
    ranked = _centroid_rank_expr("u", _n_ivf_lists(unit.count()))
    assign = {
        r["vec_id"]: [s["j"] for s in r["rk"][:N_PROBE]]
        for r in unit.select("vec_id", ranked.alias("rk")).collect()
    }
    for q, v in got:
        assert assign[v][0] in assign[q], f"{v} not in {q}'s probed lists"
