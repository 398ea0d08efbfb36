"""Streaming document pipeline: incremental near-duplicate component
maintenance.

``stream_components`` is the streaming face of the batch
``dedup_components`` (operators/dedup.py): documents arrive as a
file-source stream in chunk files (the same ingestion shape as the
reference's sorted chunk directory, ``/root/reference/code/bfr.py``
chunk loop), and every micro-batch

1. minhashes ONLY the new documents (the same JVM-shingle →
   vectorized-NumPy kernel as the batch path),
2. appends their band signatures + shingle sets to a parquet state
   store,
3. finds candidate pairs by joining the NEW signatures against the
   accumulated store (new×new ∪ new×old — never old×old, so each
   pair is discovered exactly once, when its later member arrives),
4. exact-Jaccard-verifies candidates, and
5. folds the verified pairs into the running component labelling —
   a driver union-find while the per-batch delta and touched-node
   set stay under documented bounds, escalating once to a
   distributed incremental fold (contract the delta through the
   previous labelling, CC only the touched graph, one-join remap)
   beyond them; either way the per-batch fold cost is O(delta),
   never a propagation over every node ever seen.

State is parquet-append (signatures, shingles) + versioned label
snapshots once escalated;
on a production cluster those become Delta/Iceberg tables with MERGE
and the stream runs continuously — per-batch work is bounded by
batch size × band-collision rate, independent of history size except
through the bucket join, which shuffles on (band, sig) exactly like
the batch LSH.

Because candidate discovery is incremental-exhaustive (every colliding
pair is seen once), the final labelling after AvailableNow equals the
batch ``dedup_components`` output — so this streaming operator is
hash-gated against the same recursive-CTE DuckDB oracle rather than
rows-only.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tuning import shuffle_width
from ..operators.dedup import (
    CC_SMALL_PAIRS,
    _minhash_kernel,
    _minhash_params,
    _shingles_expr,
    _tokens,
    connected_components,
    uf_labels,
    uf_union,
)
from .events_stream import drain, replay, staged_fixture

# the documents table's stream schema
_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest quality gate: the batch ``text_quality``
    composite filter applied on arrival, reported as per-language
    pass/fail counts (complete mode — the running ingest dashboard a
    pipeline actually watches). Stateless row-wise filter + one
    bounded aggregation: state is O(languages), not O(documents)."""
    from ..operators.textstats import quality_flag_expr

    docs = replay(spark, f"{sf_dir}/documents*.parquet", _DOCS_SCHEMA)
    agg = (
        docs.select("lang", quality_flag_expr(F.col("text")).cast("int").alias("passes_quality"))
        .groupBy("lang", "passes_quality")
        .agg(F.count("*").alias("n_docs"))
    )
    out = drain(agg, "stream_quality_filter_sink", mode="complete")
    return out.orderBy("lang", "passes_quality")


STREAM_QUALITY_FILTER_SQL = """
WITH t AS (
  SELECT lang,
         CAST(length(text) >= 50
              AND len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                  x -> x IN ('the','a','and','of','to','in','is','on'))) * 1e0
                  / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) > 0.05
              AND len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1e0
                  / greatest(length(text), 1) < 0.3 AS INT) AS passes_quality
  FROM documents
)
SELECT lang, passes_quality, CAST(count(*) AS BIGINT) AS n_docs
FROM t GROUP BY lang, passes_quality ORDER BY lang, passes_quality
"""


def stream_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-budget accounting — the ingest dashboard a
    pretraining pipeline actually watches while data lands: per
    source, running doc / word-token / char totals and mean tokens
    per doc (complete mode). This is the live face of the batch
    ``corpus_mix`` inputs: the same per-source token masses that set
    temperature-scaled sampling weights, maintained as documents
    arrive. Stateless row-wise token count + one bounded aggregation:
    state is O(sources) (catalog-bounded), not O(documents).

    The mean uses the exact int64 scaled-round pattern
    (``fixed_avg_int`` shape) so the drained result hash-equals the
    batch oracle under any batch split."""
    from ..functions.numeric import fixed_avg_int
    from ..operators.textstats import _tokens

    docs = replay(spark, f"{sf_dir}/documents*.parquet", _DOCS_SCHEMA)
    agg = (
        docs.select(
            "source",
            F.size(_tokens(F.col("text"))).cast("long").alias("cnt_tokens"),
            F.length("text").cast("long").alias("n_chr"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("cnt_tokens").alias("n_tokens"),
            F.sum("n_chr").alias("n_chars"),
            fixed_avg_int(F.col("cnt_tokens"), 2).alias("avg_tokens_per_doc"),
        )
    )
    out = drain(agg, "stream_token_stats_sink", mode="complete")
    return out.orderBy("source")


STREAM_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS cnt_tokens,
         length(text) AS n_chr
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(cnt_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chr) AS BIGINT) AS n_chars,
       CAST(round(sum(cnt_tokens) * 1e2 / count(*)) AS BIGINT) / 1e2 AS avg_tokens_per_doc
FROM t GROUP BY source ORDER BY source
"""


def _batch_dirs(root: str) -> list[str]:
    """The per-batch state subdirs written so far under ``root``, read
    by explicit path: a glob read (``root/b*``) makes Spark probe the
    glob as a literal path and log a FileNotFoundException stack."""
    return [os.path.join(root, d) for d in sorted(os.listdir(root))]


def stream_components(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.7,
    n_chunks: int = 2,
    driver_gate: int = CC_SMALL_PAIRS,
    node_bound: int = 1_000_000,
) -> DataFrame:
    """Drain a chunked copy of ``documents`` through the incremental
    component maintainer and return the final (doc_id, comp) table.

    The table is re-chunked into ``n_chunks`` files and streamed with
    ``maxFilesPerTrigger=1`` so the drain genuinely exercises
    multi-batch incrementality (a single-file source would collapse
    to one batch). Oracle: same transitive-closure SQL as
    ``dedup_components``.

    Two-tier label maintenance (same documented small-gate doctrine
    as ``connected_components``'s driver gate / q_rfm's SMALL_TOTAL):

    - while every batch's verified-pair delta is ≤ ``driver_gate``
      rows AND the touched-node set is ≤ ``node_bound``, components
      live in a driver union-find — folding a delta is one bounded
      collect (microseconds of CPU) instead of 6-10 scheduled
      shuffle jobs per micro-batch;
    - the moment either bound is crossed, the state is flushed to a
      parquet snapshot ONCE and every later batch takes the
      distributed incremental fold: contract the new pairs through
      the previous labelling, CC only the touched graph, remap the
      label table with one hash join — per-batch cost O(delta) + a
      linear join, never a propagation over all history. That path
      is what runs at 100 TB; the driver tier only short-circuits
      deltas that provably fit in a few MB."""
    a_p, b_p = _minhash_params()
    src = staged_fixture(
        spark, sf_dir, "streamcc_src", "documents", ["doc_id", "text"], n_chunks
    )

    with tempfile.TemporaryDirectory(prefix="streamcc_") as tmp:
        sig_path = f"{tmp}/state/sigs"
        sh_path = f"{tmp}/state/shingles"
        lbl_path = f"{tmp}/state/labels"
        # cross-batch label state (foreachBatch runs on the driver,
        # so closure state is visible across batches of this drain):
        # "uf" = union-find parent map while under the bounds, None
        # after escalation; "dir" = newest parquet snapshot dir once
        # flushed (exactly one of the two carries the labelling)
        lbl_state: dict = {"dir": None, "uf": {}}

        def _flush_uf(sp: SparkSession, batch_id: int) -> None:
            """One-time escalation: persist the driver union-find as
            a parquet label snapshot (comp = component min id) and
            hand ownership to the distributed fold."""
            rows = uf_labels(lbl_state["uf"])
            out_dir = f"{lbl_path}/b{batch_id:05d}_flush"
            sp.createDataFrame(rows, "doc_id long, comp long").write.mode(
                "overwrite"
            ).parquet(out_dir)
            lbl_state["dir"] = out_dir
            lbl_state["uf"] = None

        def process(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            # one chunk file = one input split — spread the batch
            # across the cores before the shingle build and Python
            # minhash kernel, exactly like the batch LSH path
            # (dedup.py dedup_minhash_lsh); the fold's narrow scoped
            # width does not apply to an explicit repartition(n)
            n_part = max(sp.sparkContext.defaultParallelism, 8)
            base = (
                batch_df.repartition(n_part, "doc_id")
                .select("doc_id", _tokens(F.col("text")).alias("toks"))
                .filter(F.size("toks") >= 3)
                .select("doc_id", _shingles_expr().alias("shingles"))
                .persist()
            )
            try:
                hashed = base.select(
                    "doc_id", F.expr("transform(shingles, s -> xxhash64(s))").alias("sh_hashes")
                )
                bands = hashed.mapInPandas(
                    _minhash_kernel(a_p, b_p), schema="doc_id long, band int, sig long"
                )
                # per-batch SUBDIRS, then read back: the Python
                # minhash kernel executes exactly ONCE per batch (the
                # write); the join sides below are parquet scans of
                # the written state, not re-executions or extra
                # checkpoint jobs
                # mode=overwrite so a foreachBatch RETRY of the same
                # batch_id (task failure after a partial write) replays
                # idempotently instead of dying on path-already-exists
                # state lands at the DRAIN width, not the kernel width:
                # the kernel stays n_part-wide (the repartition above),
                # but writing its output from 32 tasks left 32 files
                # per state subdir and every later scan of the state paid
                # for all of them — the repartition here is a trivial
                # shuffle of (doc_id, band, sig) triples that keeps
                # the accumulated state scan-cheap (r15 surgery; same
                # fewer-small-files discipline as the ANN index write)
                sw = shuffle_width(sp)
                bands.repartition(sw).write.mode("overwrite").parquet(
                    f"{sig_path}/b{batch_id:05d}"
                )
                base.repartition(sw).write.mode("overwrite").parquet(
                    f"{sh_path}/b{batch_id:05d}"
                )
                new_bands = sp.read.parquet(f"{sig_path}/b{batch_id:05d}")
                all_bands = sp.read.parquet(*_batch_dirs(sig_path))
                cand = (
                    new_bands.alias("n")
                    .join(
                        all_bands.alias("o"),
                        (F.col("n.band") == F.col("o.band"))
                        & (F.col("n.sig") == F.col("o.sig"))
                        & (F.col("n.doc_id") != F.col("o.doc_id")),
                    )
                    .select(
                        F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                        F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
                    )
                    .distinct()
                )
                all_sh = sp.read.parquet(*_batch_dirs(sh_path))
                sa = all_sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
                sb = all_sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
                inter = F.size(F.array_intersect("sh_a", "sh_b"))
                union = F.size("sh_a") + F.size("sh_b") - inter
                pairs = (
                    cand.join(sa, "doc_a")
                    .join(sb, "doc_b")
                    # fixed-point shape, matching the batch dedup plan
                    # (dedup.py): round(x, 4) diverges from the oracle
                    # on exact 4dp decimal ties (the fuzz-1201 class),
                    # and here the rounded value gates MEMBERSHIP
                    .filter(
                        F.round(inter / union * 10000.0).cast("long") / 10000.0
                        >= threshold
                    )
                    .select("doc_a", "doc_b")
                    # pin the verified pairs: the CC fold below reads
                    # them several times (symmetrize + per-round joins)
                    # and must not re-run the bucket/verify joins
                    .localCheckpoint(eager=True)
                )
                n_new = pairs.count()
                if n_new == 0:
                    # no new verified pairs -> the component labelling
                    # is unchanged; skip the whole fold (common for
                    # sparse batches — a batch of all-novel docs
                    # touches no component)
                    return
                if lbl_state["uf"] is not None and n_new <= driver_gate:
                    # driver tier: fold the bounded delta into the
                    # union-find — collect is ≤ driver_gate rows by
                    # the count above; re-unioning on a foreachBatch
                    # retry is a no-op, so replay is idempotent
                    parent = lbl_state["uf"]
                    for r in pairs.collect():
                        uf_union(parent, r[0], r[1])
                    if len(parent) > node_bound:
                        # soft bound: crossed by at most one batch's
                        # worth of nodes before the flush lands
                        _flush_uf(sp, batch_id)
                    return
                if lbl_state["uf"] is not None:
                    # this delta exceeds the driver gate — escalate:
                    # flush accumulated state once (if any), then
                    # fold THIS batch distributed like all later ones
                    if lbl_state["uf"]:
                        _flush_uf(sp, batch_id)
                    else:
                        lbl_state["uf"] = None
                # width_floor=2: the contracted per-batch fold graph
                # is O(new pairs + touched components) — at gate scale
                # a few thousand rows, where 8-wide rounds are pure
                # task-scheduling overhead; sized_width still scales
                # the width up with real edge volume
                if lbl_state["dir"] is None:
                    labels = connected_components(
                        pairs, width_floor=2, sort=False, edge_count=n_new, pinned=True
                    )
                else:
                    # TRUE incremental fold: contract the new pairs
                    # through the previous labelling (comp ids are the
                    # component's min doc_id, so contracted nodes are
                    # reps ∪ brand-new doc_ids and min-label CC over
                    # them preserves the min-id convention), run CC
                    # ONLY on that touched graph, then remap the label
                    # table with ONE hash join. Per-batch cost is
                    # O(new pairs + touched comps) + a linear remap —
                    # never a multi-round propagation over every node
                    # ever seen, which is what makes the maintainer
                    # sublinear in history size at 100 TB.
                    prev = sp.read.parquet(lbl_state["dir"])
                    pa = prev.select(F.col("doc_id").alias("doc_a"), F.col("comp").alias("ca"))
                    pb = prev.select(F.col("doc_id").alias("doc_b"), F.col("comp").alias("cb"))
                    contracted = (
                        pairs.join(pa, "doc_a", "left")
                        .join(pb, "doc_b", "left")
                        .select(
                            F.coalesce("ca", F.col("doc_a")).alias("doc_a"),
                            F.coalesce("cb", F.col("doc_b")).alias("doc_b"),
                        )
                        .filter(F.col("doc_a") != F.col("doc_b"))
                        .distinct()
                        # materialize ONCE: the count below gates the
                        # empty case, CC reuses the pinned rows, and
                        # edge_count spares CC its own sizing count
                        .localCheckpoint(eager=True)
                    )
                    n_contracted = contracted.count()
                    if n_contracted == 0:
                        # every new pair lies inside an existing
                        # component — labelling unchanged. On the
                        # first run this cannot fire (every pair has
                        # ≥1 member absent from prev, which survives
                        # contraction); it exists for foreachBatch
                        # RETRIES after the label snapshot landed,
                        # making the replayed batch a no-op
                        return
                    remap = connected_components(
                        contracted,
                        width_floor=2,
                        sort=False,
                        edge_count=n_contracted,
                        pinned=True,
                    )
                    rm = remap.select(F.col("doc_id").alias("old"), F.col("comp").alias("new"))
                    upd_prev = prev.join(rm, prev.comp == rm.old, "left").select(
                        "doc_id", F.coalesce("new", "comp").alias("comp")
                    )
                    # contracted nodes are exactly {reps of touched
                    # comps} ∪ {new doc_ids}, so remap rows whose key
                    # is NOT an existing comp id ARE the new nodes —
                    # no separate pairs→nodes distinct/anti-join pass
                    new_lbl = rm.join(
                        prev.select(F.col("comp").alias("old")).distinct(), "old", "left_anti"
                    ).select(F.col("old").alias("doc_id"), F.col("new").alias("comp"))
                    labels = upd_prev.union(new_lbl)
                # versioned snapshot per batch: the plan reads the
                # PREVIOUS snapshot dir and writes a NEW one, so there
                # is no read-path self-overwrite to pin around (and a
                # foreachBatch retry just rewrites its own subdir);
                # the closure var flips only after a successful write
                prev_dir = lbl_state["dir"]
                out_dir = f"{lbl_path}/b{batch_id:05d}"
                labels.write.mode("overwrite").parquet(out_dir)
                lbl_state["dir"] = out_dir
                # prune snapshots older than the one just superseded:
                # a retry of the NEXT batch only ever needs out_dir,
                # so keeping (current, previous) bounds label storage
                # at 2 copies on a continuous stream instead of
                # O(batches) full-table snapshots. os/shutil is right
                # for this operator's tempdir state root; the
                # Delta/Iceberg production swap (module docstring)
                # would VACUUM instead
                for stale in sorted(os.listdir(lbl_path)):
                    full = f"{lbl_path}/{stale}"
                    if full not in (out_dir, prev_dir):
                        shutil.rmtree(full, ignore_errors=True)
            finally:
                base.unpersist()

        # the drain's narrow width: drain_width measured ~1 s/drain
        # faster than 8 at sf0.1 (identical labels) — the fold's many
        # small jobs are task-scheduling-bound, not data-bound
        drain(
            replay(spark, src, "doc_id long, text string", files_per_trigger=1),
            "stream_components_sink",
            sink=process,
        )

        if lbl_state["uf"] is not None:
            # the whole corpus stayed under the driver bounds: emit
            # the union-find labelling directly (bounded rows)
            rows = uf_labels(lbl_state["uf"])
            return spark.createDataFrame(rows, "doc_id long, comp long").orderBy(
                "doc_id"
            )
        if lbl_state["dir"] is None:
            return spark.createDataFrame([], "doc_id long, comp long")
        final = spark.read.parquet(lbl_state["dir"])
        # the state dir dies with the context manager — pin the final
        # labels on EXECUTORS (eager localCheckpoint), never the
        # driver: the label table is O(n_docs) and a driver collect
        # here is the one thing that would not survive a real corpus
        return (
            final.select(F.col("doc_id").cast("long"), F.col("comp").cast("long"))
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )


def stream_drift_detect(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> DataFrame:
    """Streaming face of the embedding-drift monitor
    (``q_drift_detect``, operators/embeddings_ops.py): embedding
    batches arrive as a chunked file stream and a STREAMING
    aggregation maintains the per-(label, half, dim) exact integer
    moments incrementally in the state store — the shape of a
    production representation-health monitor that watches every
    ingest batch instead of re-scanning the corpus. After the
    AvailableNow drain, the drift tail (join halves → per-label L2
    centroid shift → threshold flag) runs over the aggregated frame.

    Hash-gated by the BATCH operator's own DuckDB oracle: integer
    moments are order-free, so drained ≡ batch-computed bit-for-bit
    (the invariant every face in this module pins).

    Scale: state is labels × 2 × dims integer cells — independent of
    corpus size; each micro-batch contributes map-side-combined
    partials, and the post-drain tail touches only the bounded
    aggregate. No driver-side fold at all (the aggregation lives in
    the streaming state store)."""
    from ..operators.embeddings_ops import DRIFT_SCALE, DRIFT_T

    src = staged_fixture(
        spark, sf_dir, "streamdrift_src", "embeddings", ["vec_id", "embedding", "label"], n_chunks
    )
    ev = replay(
        spark, src, "vec_id long, embedding array<float>, label int", files_per_trigger=1
    )
    cells = ev.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> cast(round(cast(x as double) * {DRIFT_SCALE}, 0) as bigint))"
            )
        ),
    )
    agg = cells.groupBy("label", "half", "pos").agg(
        F.sum("col").alias("s"), F.count("*").alias("n")
    )
    sums = drain(agg, "stream_drift_sink", mode="complete")
    # halves paired by conditional aggregation instead of a
    # self-join of the memory sink (a self-join of the same sink
    # lineage trips Spark's ambiguous-reference internal error);
    # semantically identical to the batch operator's inner join —
    # the isNotNull filter drops (label, pos) cells missing a half,
    # exactly the rows an inner join would drop
    paired = (
        sums.groupBy("label", "pos")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("s"))).alias("s0"),
            F.max(F.when(F.col("half") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("half") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n1"),
        )
        .filter(F.col("n0").isNotNull() & F.col("n1").isNotNull())
    )
    diff = (
        F.col("s0").cast("double") / F.col("n0")
        - F.col("s1").cast("double") / F.col("n1")
    ) / DRIFT_SCALE
    per_label = paired.groupBy("label").agg(
        F.max("n0").alias("n_first"),
        F.max("n1").alias("n_second"),
        F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_shift"),
    )
    return per_label.select(
        "label",
        "n_first",
        "n_second",
        "centroid_shift",
        (F.col("centroid_shift") > DRIFT_T).alias("drifted"),
    ).orderBy("label")


def stream_ann_index(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """Streaming IVF index maintenance — the streaming face of
    ``ann_ivf_partitioned`` (operators/similarity.py), closing the
    one LLM-pipeline family that had no streaming operator: vectors
    arrive as a chunked file stream and every micro-batch

    1. assigns the NEW vectors to their inverted list with the same
       deterministic md5 coarse quantizer the batch layout uses
       (one map-side JVM fold — no shuffle, no Python), and
    2. appends them to ONE (batch, list_id)-partitioned parquet
       index under dynamic partition overwrite — a foreachBatch
       retry rewrites exactly its own batch=N partitions, so replay
       is idempotent; a production swap writes Delta/Iceberg MERGE
       into one partitioned table.

    The quantizer is sized ONCE at stream setup from the expected
    corpus volume (a deployment config — a streaming index cannot
    resize its cell grid per batch), so assignment is stable across
    batches and the drained index is row-identical to the
    batch-built layout. After the AvailableNow drain the standard
    probe query (bounded query set, N_PROBE nearest lists, partition
    pruning on ``list_id``) runs against the ACCUMULATED index —
    drained ≡ batch-built, so the result hash-matches
    ``ann_ivf_partitioned``'s own oracle."""
    from ..operators.similarity import (
        N_PROBE,
        TOP_K,
        _bounded_query_filter,
        _centroid_rank_expr,
        _n_ivf_lists,
        _with_list_id,
    )
    from pyspark.sql import Window as W

    src = staged_fixture(
        spark, sf_dir, "streamann_src", "embeddings", ["vec_id", "embedding"], n_chunks
    )
    # quantizer sizing = deployment config: expected volume is known
    # to the index owner before the stream starts (metadata count of
    # the staged source — NOT read per batch)
    n_lists = _n_ivf_lists(spark.read.parquet(src).count())

    with tempfile.TemporaryDirectory(prefix="streamann_") as tmp:
        idx_path = f"{tmp}/index"

        def process(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            # write width follows the SESSION shuffle width (not raw
            # core count) and the shuffle key is the PARTITION COLUMN:
            # every inverted list lands in exactly one task, so each
            # batch adds ONE file per (batch, list_id) directory
            # instead of one per task per directory — the same
            # fewer-small-files discipline sink_compact_small_files
            # gates, and the reason the accumulated index stays
            # scan-cheap as batches pile up
            n_part = shuffle_width(sp)
            v = F.transform("embedding", lambda x: x.cast("double"))
            nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
            base = batch_df.select("vec_id", v.alias("v"), nrm.alias("nrm"))
            listed = _with_list_id(base, _centroid_rank_expr("v", n_lists)).repartition(
                min(n_part, n_lists), "list_id"
            )
            # dynamic overwrite: a retried batch rewrites ONLY its
            # own batch=N partitions — idempotent replay with a
            # single accumulating index root
            prev_mode = sp.conf.get("spark.sql.sources.partitionOverwriteMode")
            sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                listed.withColumn("batch", F.lit(batch_id)).write.mode(
                    "overwrite"
                ).partitionBy("batch", "list_id").parquet(idx_path)
            finally:
                sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        # two chunk files per trigger: the face's contracts
        # (multi-batch accumulation, per-batch idempotent retry) need
        # >=2 batches, not one batch per file — halving the batch
        # count halves the fixed micro-batch cost (offset commit,
        # plan, write job). In production the trigger size is the
        # latency/throughput knob; the drained index is row-identical
        # either way.
        drain(
            replay(
                spark, src, "vec_id long, embedding array<float>",
                files_per_trigger=max(1, n_chunks // 2),
            ),
            "stream_ann_index_sink",
            sink=process,
        )

        if not os.path.isdir(idx_path) or not os.listdir(idx_path):
            return spark.createDataFrame(
                [], "q_id long, vec_id long, cosine double, rank int"
            )
        index = spark.read.parquet(idx_path).drop("batch")

        ranked_q = _centroid_rank_expr("v", n_lists)
        # eager checkpoint: the bounded query set (queries ×
        # N_PROBE rows) feeds TWO consumers — the probe-list
        # collect and the broadcast side of the scored join —
        # and must not re-scan the index for each
        queries = (
            _bounded_query_filter(index)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("q_v"),
                F.col("nrm").alias("q_nrm"),
                F.explode(
                    F.transform(F.slice(ranked_q, 1, N_PROBE), lambda s: s["j"])
                ).alias("probe_list"),
            )
            .localCheckpoint(eager=True)
        )
        # union of probed lists is bounded by n_lists values, never
        # data size — collecting it drives the partition pruning
        probe_ids = sorted(
            r[0] for r in queries.select("probe_list").distinct().collect()
        )
        data = index.filter(F.col("list_id").isin(probe_ids))
        dot = F.aggregate(
            F.zip_with("v", "q_v", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = data.join(
            F.broadcast(queries),
            (F.col("list_id") == F.col("probe_list"))
            & (F.col("vec_id") != F.col("q_id")),
        ).select(
            "q_id",
            "vec_id",
            F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"),
        )
        w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
        # eager checkpoint pins the tiny top-k before the index
        # tempdir is removed
        out = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "vec_id", "cosine", "rank")
            .orderBy("q_id", "rank")
            .localCheckpoint(eager=True)
        )
        return out


def stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental count-min sketch maintenance over the document
    stream: each micro-batch contributes its own partial CMS cells
    (token → d portable md5 buckets → per-cell counts, computed
    distributed) and the driver folds them into the running d×w
    counter matrix with integer adds. CMS merge is exact — counters
    are commutative sums — so the drained sketch EQUALS the batch
    sketch over the same corpus, and the per-seed summary is
    hash-gated against a DuckDB replay of the full-corpus sketch.

    State is d×w int64 (a few KiB) no matter how many documents
    stream through; per-batch transfer is ≤ d×w partial cells. This
    is the always-on ingest-frequency monitor a production pipeline
    runs next to the exact batch counts."""
    import numpy as np

    from ..operators.sketches import CMS_D, CMS_W, _md5_bucket

    state = np.zeros((CMS_D, CMS_W), dtype=np.int64)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.select(F.explode(_tokens(F.col("text"))).alias("tok"))
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(s).alias("seed"),
                                _md5_bucket(F.col("tok"), s, CMS_W).alias("bucket"),
                            )
                            for s in range(CMS_D)
                        ]
                    )
                ).alias("sb")
            )
            .groupBy("sb.seed", "sb.bucket")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        for row in cells:
            state[int(row["seed"]), int(row["bucket"])] += int(row["cnt"])

    drain(
        replay(spark, f"{sf_dir}/documents*.parquet", _DOCS_SCHEMA, files_per_trigger=1),
        "stream_countmin_sink",
        sink=update,
    )

    rows = [
        {
            "seed": s,
            "n_buckets_used": int((state[s] > 0).sum()),
            "total_count": int(state[s].sum()),
            "max_counter": int(state[s].max()),
        }
        for s in range(CMS_D)
    ]
    return spark.createDataFrame(rows, "seed int, n_buckets_used long, total_count long, max_counter long").orderBy("seed")


STREAM_COUNTMIN_SQL = """
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
), lm AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
), cells AS (
  SELECT 0 AS seed, ('0x' || substr(md5('0:' || tok), 1, 15))::BIGINT % 1024 AS bucket, cnt FROM lm
  UNION ALL
  SELECT 1, ('0x' || substr(md5('1:' || tok), 1, 15))::BIGINT % 1024, cnt FROM lm
  UNION ALL
  SELECT 2, ('0x' || substr(md5('2:' || tok), 1, 15))::BIGINT % 1024, cnt FROM lm
  UNION ALL
  SELECT 3, ('0x' || substr(md5('3:' || tok), 1, 15))::BIGINT % 1024, cnt FROM lm
), counters AS (
  SELECT seed, bucket, CAST(sum(cnt) AS BIGINT) AS counter FROM cells GROUP BY 1, 2
)
SELECT CAST(seed AS INT) AS seed,
       CAST(count(*) AS BIGINT) AS n_buckets_used,
       CAST(sum(counter) AS BIGINT) AS total_count,
       CAST(max(counter) AS BIGINT) AS max_counter
FROM counters GROUP BY seed ORDER BY seed
"""
