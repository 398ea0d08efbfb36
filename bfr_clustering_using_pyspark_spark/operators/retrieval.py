"""Search-ranking operators: BM25 lexical retrieval and hybrid
lexical+vector rank fusion (RRF) — the retrieval faces an LLM-data /
RAG pipeline runs next to dedup and ANN.

Spark-first shape: everything is an inverted-index join (explode →
groupBy → broadcast the O(1) query side), never a doc×doc cross
join; per-query top-k goes through a salted two-phase window so no
single window partition scales with the corpus. The reference
(a single-node BFR clustering homework, 946 LoC) has no retrieval
surface at all — these operators extend the engine the brief asks
for, with the same DuckDB hash-gate contract as every other key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.cache import SessionCache
from ..functions.text import TOKEN_RE, word_tokens
from ..functions.vectors import to_double_array
from ..sources.readers import load_table

# BM25 parameters (the Robertson/Okapi defaults everyone ships).
BM25_K1 = 1.2
BM25_B = 0.75
# Query terms: the N_QUERY_TERMS highest-document-frequency terms
# (df desc, term asc) — deterministic, data-derived, replayed by the
# oracle with the identical ranking predicate.
N_QUERY_TERMS = 8
BM25_TOP_K = 5
# Salt width for the two-phase per-term top-k: a high-df query term
# can match a constant fraction of the corpus, so one unsalted
# window partition would scale with n. 32 salts bound the first
# phase at matches/32 rows per task; phase two ranks <= 32*K rows.
TOPK_SALTS = 32

# Hybrid-RRF query docs: doc_id % RRF_QUERY_MOD == 0, capped to the
# fixed RRF_Q_MAX-member id set — same bounded-broadcast contract as
# the ANN family's _bounded_query_filter (similarity.py): the query
# side is O(1) in corpus size, so the broadcast never grows.
RRF_QUERY_MOD = 100
RRF_Q_MAX = 50
RRF_K = 60          # the standard RRF dampening constant
RRF_LIST_K = 20     # fuse the top-20 of each leg
RRF_TOP_K = 10


def _salted_topk(scored: DataFrame, part: str, order_col: str, tie: str, k: int) -> DataFrame:
    """Two-phase per-``part`` top-k over (order_col DESC, tie ASC):
    phase one ranks within (part, tie%TOPK_SALTS) so no window
    partition scales with the corpus; phase two ranks the <=
    TOPK_SALTS*k survivors per part. Emits ``rank``."""
    w1 = W.partitionBy(part, F.col(tie) % TOPK_SALTS).orderBy(F.desc(order_col), tie)
    w2 = W.partitionBy(part).orderBy(F.desc(order_col), tie)
    return (
        scored.withColumn("_lr", F.row_number().over(w1))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, k1=1.2 b=0.75) top-5 documents for each of the 8
    highest-df query terms.

    Plan: one token explode → (doc,term) tf + per-doc length in the
    SAME aggregation pass; df per term; the 8 query terms are a tiny
    sorted agg broadcast into the tf frame, so scoring touches only
    postings of query terms (inverted-index semantics — never a
    doc×term dense product). Top-k is the salted two-phase window.
    All arithmetic is doubles over exact integer inputs with the
    oracle replaying the identical expression shape; scores rounded
    to 6dp before ranking (doc_id tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # persisted (doc,term,tf): dl, df and the scoring join all read
    # the SAME materialization instead of re-exploding per consumer
    tf = _bm25_tf(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # all-empty corpus → no tokens → sum is NULL; 1.0 keeps the
    # (vacuously row-free) scoring expression well-defined
    tot_tokens = dl.agg(F.sum("dl")).first()[0]
    avgdl = float(tot_tokens) / float(n_docs) if tot_tokens else 1.0
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # global top-8 terms via TakeOrderedAndProject (orderBy+limit),
    # NOT an unpartitioned vocabulary-sized window — the plan audit
    # rejects any WindowExec whose partition scales with the data
    qterms = df_.orderBy(F.desc("df"), "term").limit(N_QUERY_TERMS).select("term", "df")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .select(
            "term",
            "doc_id",
            F.round(idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / denom, 6).alias("bm25"),
        )
    )
    return (
        _salted_topk(scored, "term", "bm25", "doc_id", BM25_TOP_K)
        .select("term", "doc_id", "bm25", "rank")
        .orderBy("term", "rank")
    )


TEXT_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) * 1e0 / (SELECT count(*) FROM documents) AS avgdl
), df_ AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qterms AS (
  SELECT term, df FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS qrank FROM df_
  ) WHERE qrank <= {N_QUERY_TERMS}
), scored AS (
  SELECT t.term, t.doc_id,
         round(ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
               * t.tf * {BM25_K1 + 1.0}
               / (t.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * d.dl / s.avgdl)),
               6) AS bm25
  FROM tf t JOIN qterms q USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
), ranked AS (
  SELECT term, doc_id, bm25,
         row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id) AS rank
  FROM scored
)
SELECT term, doc_id, bm25, rank FROM ranked WHERE rank <= {BM25_TOP_K}
ORDER BY term, rank
"""


# Per-session cache of tokenized frames: the gate runs text_bm25 +
# q_hybrid_rrf + retrieval_eval back-to-back (the eval reuses the
# hybrid's legs), and an unchanged corpus must not be re-tokenized per
# consumer. Doctrine in functions/cache.py.
_TOK_CACHE_MAX = 4
_TOK_CACHE = SessionCache(_TOK_CACHE_MAX)


def _cached_frame(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    return _TOK_CACHE.get_or_build(
        spark, lambda: build().persist(), f"{sf_dir}/documents.parquet", kind
    )


def _spread(df: DataFrame) -> DataFrame:
    """A 1-2-file parquet scan gives every downstream map stage (and
    the data side of a broadcast join) that same width — the
    one-task-serializes-everything defect the sf1 sweeps caught on
    silhouette/dedup. Repartition narrow scans to deployment width
    (same guard as similarity._base / dedup's _spread)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(par, 8):
        return df.repartition(par)
    return df


def _bm25_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, term, tf) frame — one explode+agg serving
    dl, df and the scoring join instead of three lineage replays."""

    def build():
        docs = _spread(load_table(spark, sf_dir, "documents"))
        tok = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
        return tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))

    return _cached_frame(spark, sf_dir, "bm25_tf", build)


def _distinct_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, term) postings — the lexical leg's inverted
    index, shared by q_hybrid_rrf and retrieval_eval. The tf frame's
    key set IS this relation (groupBy doc_id, term), so ride the one
    persisted tokenize pass instead of a second full explode +
    array_distinct over the corpus (guide §2.4: two consumers keyed
    the same way share one materialization)."""
    return _bm25_tf(spark, sf_dir).select("doc_id", "term")


def _query_pred():
    return (F.col("doc_id") % RRF_QUERY_MOD == 0) & (
        F.col("doc_id") < RRF_QUERY_MOD * RRF_Q_MAX
    )


def _lex_ranked(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Lexical leg: distinct-token Jaccard of every bounded query doc
    vs every candidate sharing >= 1 token (inverted-index join on
    term — candidates bounded by shared-vocabulary postings, never
    doc×doc), salted top-k. Emits (q_id, doc_id, rank)."""
    qpred = _query_pred()
    toks = _distinct_postings(spark, sf_dir)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    qtoks = toks.filter(qpred).select(F.col("doc_id").alias("q_id"), "term")
    inter = (
        toks.join(F.broadcast(qtoks), "term")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count("*").alias("inter"))
    )
    qsizes = sizes.filter(qpred).select(
        F.col("doc_id").alias("q_id"), F.col("n_tok").alias("q_n")
    )
    lex_scored = (
        inter.join(sizes, "doc_id")
        .join(F.broadcast(qsizes), "q_id")
        .select(
            "q_id",
            "doc_id",
            F.round(
                F.col("inter") / (F.col("q_n") + F.col("n_tok") - F.col("inter")), 6
            ).alias("jacc"),
        )
    )
    return _salted_topk(lex_scored, "q_id", "jacc", "doc_id", k).select(
        "q_id", "doc_id", "rank"
    )


def _vec_ranked(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Vector leg: exact cosine of each bounded query doc's embedding
    (vec_id == doc_id by corpus construction) vs all embeddings,
    query side broadcast, salted top-k. Emits (q_id, doc_id, rank)."""
    emb = _spread(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"),
        to_double_array("embedding").alias("v"),
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    base = emb.select("doc_id", "v", nrm.alias("nrm"))
    qvec = base.filter(_query_pred()).select(
        F.col("doc_id").alias("q_id"), F.col("v").alias("q_v"), F.col("nrm").alias("q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    vec_scored = (
        base.join(F.broadcast(qvec), F.col("doc_id") != F.col("q_id"))
        .select(
            "q_id",
            "doc_id",
            F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"),
        )
    )
    return _salted_topk(vec_scored, "q_id", "cosine", "doc_id", k).select(
        "q_id", "doc_id", "rank"
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: for each query
    document (doc_id % {mod} == 0, id < {mod}·{qmax} — the bounded
    O(1) query-set contract the ANN family uses), fuse

      - a LEXICAL leg: distinct-token Jaccard vs every candidate doc
        sharing >= 1 token, via an inverted-index join on term
        (candidates bounded by shared-vocabulary postings, never
        doc×doc), top-{lk}; and
      - a VECTOR leg: exact cosine of the doc's embedding
        (vec_id == doc_id by corpus construction) vs all embeddings,
        query side broadcast, top-{lk};

    then rrf = Σ_leg 1/({k} + rank_leg) over the union of both
    top-{lk} lists (absent leg contributes 0), re-ranked to
    top-{tk}. Ranks are integers, so the fused score is a sum of two
    exact-input divisions — cross-engine stable at 6dp."""
    lex = _lex_ranked(spark, sf_dir, RRF_LIST_K).withColumnRenamed("rank", "r_lex")
    vec = _vec_ranked(spark, sf_dir, RRF_LIST_K).withColumnRenamed("rank", "r_vec")

    # ---- fusion: union of the two lists, absent leg contributes 0
    fused = (
        lex.join(vec, ["q_id", "doc_id"], "full_outer")
        .select(
            "q_id",
            "doc_id",
            "r_lex",
            "r_vec",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RRF_TOP_K)
        .select("q_id", "doc_id", "r_lex", "r_vec", "rrf", "rank")
        .orderBy("q_id", "rank")
    )


if q_hybrid_rrf.__doc__:  # stripped to None under python -OO
    q_hybrid_rrf.__doc__ = q_hybrid_rrf.__doc__.format(
        mod=RRF_QUERY_MOD, qmax=RRF_Q_MAX, lk=RRF_LIST_K, k=RRF_K, tk=RRF_TOP_K
    )




EVAL_K = 10


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval quality of the LEXICAL ranking measured
    against the exact-cosine VECTOR ranking as reference — the eval
    face of the retrieval family (the counterpart of
    ann_recall_eval / dedup_recall_eval for their families):

      - ``n_hits``      |lex top-10 ∩ vec top-10|
      - ``recall_at_10`` n_hits / 10
      - ``mrr``          1 / (smallest lexical rank holding a
                         reference member), 0 when none

    Every metric is an exact rational of integer ranks (no float
    score enters the aggregation), so cross-engine agreement is
    structural. The legs reuse q_hybrid_rrf's bounded builders —
    broadcast O(1) query sides, salted top-k."""
    lex = _lex_ranked(spark, sf_dir, EVAL_K).withColumnRenamed("rank", "r_lex")
    vec = _vec_ranked(spark, sf_dir, EVAL_K).select("q_id", "doc_id")
    hits = lex.join(vec, ["q_id", "doc_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits"),
        F.min("r_lex").alias("first_rel"),
    )
    # left-join back onto the FULL query set — derived from the query
    # predicate over documents, NOT from the lexical ranking — so a
    # query doc with zero lexical candidates (e.g. an empty-text doc)
    # still reports n_hits=0 instead of vanishing (round-11 advice:
    # the old qs came from `lex`, silently dropping such queries)
    qs = (
        load_table(spark, sf_dir, "documents")
        .filter(_query_pred())
        .select(F.col("doc_id").alias("q_id"))
    )
    return (
        qs.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(EVAL_K)), 4).alias(
                "recall_at_10"
            ),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
        )
        .orderBy("q_id")
    )


def _leg_ctes() -> str:
    """The shared lexical/vector CTE text (DuckDB), parameterized by
    nothing — both oracles (hybrid RRF, retrieval eval) splice it so
    the leg definitions cannot drift apart."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
    FROM documents
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
), qtoks AS (
  SELECT doc_id AS q_id, term FROM toks
  WHERE doc_id % {RRF_QUERY_MOD} = 0 AND doc_id < {RRF_QUERY_MOD * RRF_Q_MAX}
), inter AS (
  SELECT q.q_id, t.doc_id, count(*) AS inter
  FROM toks t JOIN qtoks q USING (term)
  WHERE t.doc_id <> q.q_id
  GROUP BY q.q_id, t.doc_id
), lex_scored AS (
  SELECT i.q_id, i.doc_id,
         round(i.inter * 1e0 / (qs.n_tok + s.n_tok - i.inter), 6) AS jacc
  FROM inter i
  JOIN sizes s ON s.doc_id = i.doc_id
  JOIN sizes qs ON qs.doc_id = i.q_id
), lex_ranked AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id ORDER BY jacc DESC, doc_id) AS rank
  FROM lex_scored
), base AS MATERIALIZED (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), qvec AS (
  SELECT doc_id AS q_id, v AS q_v, nrm AS q_nrm FROM base
  WHERE doc_id % {RRF_QUERY_MOD} = 0 AND doc_id < {RRF_QUERY_MOD * RRF_Q_MAX}
), vec_scored AS (
  SELECT q.q_id, b.doc_id,
         round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2]))
               / (b.nrm * q.q_nrm), 4) AS cosine
  FROM base b CROSS JOIN qvec q
  WHERE b.doc_id <> q.q_id
), vec_ranked AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id) AS rank
  FROM vec_scored
)"""


RETRIEVAL_EVAL_SQL = f"""{_leg_ctes()},
lex AS (SELECT q_id, doc_id, rank AS r_lex FROM lex_ranked WHERE rank <= {EVAL_K}),
vec AS (SELECT q_id, doc_id FROM vec_ranked WHERE rank <= {EVAL_K}),
hits AS (
  SELECT l.q_id, count(*) AS n_hits, min(l.r_lex) AS first_rel
  FROM lex l JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id
  GROUP BY l.q_id
), qs AS (
  SELECT doc_id AS q_id FROM documents
  WHERE doc_id % {RRF_QUERY_MOD} = 0 AND doc_id < {RRF_QUERY_MOD * RRF_Q_MAX}
)
SELECT qs.q_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(EVAL_K)}, 4) AS recall_at_10,
       round(coalesce(1.0 / h.first_rel, 0.0), 6) AS mrr
FROM qs LEFT JOIN hits h ON qs.q_id = h.q_id
ORDER BY qs.q_id
"""


Q_HYBRID_RRF_SQL = f"""{_leg_ctes()},
lex AS (SELECT q_id, doc_id, rank AS r_lex FROM lex_ranked WHERE rank <= {RRF_LIST_K}),
vec AS (SELECT q_id, doc_id, rank AS r_vec FROM vec_ranked WHERE rank <= {RRF_LIST_K}),
fused AS (
  SELECT coalesce(l.q_id, v.q_id) AS q_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.r_lex AS r_lex, v.r_vec AS r_vec,
         round(coalesce(1.0 / ({RRF_K} + l.r_lex), 0.0)
               + coalesce(1.0 / ({RRF_K} + v.r_vec), 0.0), 6) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id
), ranked AS (
  SELECT q_id, doc_id, r_lex, r_vec, rrf,
         row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT q_id, doc_id, r_lex, r_vec, rrf, rank FROM ranked
WHERE rank <= {RRF_TOP_K} ORDER BY q_id, rank
"""


# ----------------------------------------------------- conjunctive BM25

# Multi-term AND queries over the MID-df band (the top-8 terms
# text_bm25 queries are near-stopwords on any real corpus — r12
# verdict item 4): terms at df ranks CONJ_BAND_START..+Q·T−1 (df
# desc, term asc — deterministic, replayed by the oracle), grouped
# 3-per-query. A doc matches iff it contains ALL of the query's
# terms; its score is the SUM of the per-term BM25 scores, summed in
# int64 1e-6 units so the 3-term addition is order-free.
CONJ_BAND_START = 9   # 1-based df rank where the band begins
CONJ_QUERIES = 6
CONJ_TERMS = 3        # AND semantics over 3 terms per query
CONJ_TOP_K = 10
CONJ_UNIT = 1_000_000.0


def _conj_parts(spark: SparkSession, sf_dir: str):
    """Shared plumbing for text_bm25_conj / retrieval_conj_eval:
    (qterms frame, per-(query,doc) matched-count + int-unit score
    frame). qterms is 18 rows (broadcast); scoring touches only the
    postings of band terms (inverted-index join)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    tf = _bm25_tf(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    tot_tokens = dl.agg(F.sum("dl")).first()[0]
    avgdl = float(tot_tokens) / float(n_docs) if tot_tokens else 1.0
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    band_n = CONJ_BAND_START - 1 + CONJ_QUERIES * CONJ_TERMS
    # TakeOrderedAndProject bounds the frame to band_n rows; the
    # unpartitioned rank below therefore runs over <= 27 rows
    # (GLOBAL_WINDOW_OK in the plan audit), never the vocabulary
    band = df_.orderBy(F.desc("df"), "term").limit(band_n)
    wq = W.orderBy(F.desc("df"), "term")
    qterms = (
        band.withColumn("qrank", F.row_number().over(wq))
        .filter(F.col("qrank") >= CONJ_BAND_START)
        .select(
            ((F.col("qrank") - CONJ_BAND_START) / CONJ_TERMS)
            .cast("int")
            .alias("query_id"),
            "term",
            "df",
        )
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
    )
    u = F.round(
        idf * F.col("tf") * F.lit(BM25_K1 + 1.0) / denom * F.lit(CONJ_UNIT)
    ).cast("long")
    per_doc = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .select("query_id", "doc_id", u.alias("u"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("matched"), F.sum("u").alias("su"))
    )
    return qterms, per_doc


def text_bm25_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) BM25: top-10 docs per multi-term mid-df
    query — the realistic retrieval shape (multi-word queries over
    non-stopword terms). Returns (query_id, doc_id, score, rank)."""
    _, per_doc = _conj_parts(spark, sf_dir)
    conj = per_doc.filter(F.col("matched") == CONJ_TERMS).select(
        "query_id", "doc_id", (F.col("su") / CONJ_UNIT).alias("score")
    )
    return (
        _salted_topk(conj, "query_id", "score", "doc_id", CONJ_TOP_K)
        .select("query_id", "doc_id", "score", "rank")
        .orderBy("query_id", "rank")
    )


def retrieval_conj_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality of the conjunctive (AND) ranking against the
    disjunctive (OR, same terms / same scores, no all-terms filter)
    ranking as reference: per query n_conj (AND matches ranked, ≤
    10), n_hits = |AND∩OR top-10|, recall_at_10, mrr = 1/(smallest
    AND rank holding an OR-top-10 member). Integer-rank rationals —
    cross-engine agreement is structural. Empty-conjunction queries
    still report a row (left join from the 0..Q−1 query-id spine)."""
    qterms, per_doc = _conj_parts(spark, sf_dir)
    # four consumers below (conj topk ×2 windows, disj topk ×2) —
    # materialize the scored frame once (executor-side, O(matched
    # postings) rows) instead of replaying the tokenize+join lineage
    per_doc = per_doc.localCheckpoint(eager=True)
    conj = per_doc.filter(F.col("matched") == CONJ_TERMS).select(
        "query_id", "doc_id", (F.col("su") / CONJ_UNIT).alias("score")
    )
    conj_ranked = _salted_topk(conj, "query_id", "score", "doc_id", CONJ_TOP_K).select(
        "query_id", "doc_id", F.col("rank").alias("r_conj")
    )
    disj = per_doc.select(
        "query_id", "doc_id", (F.col("su") / CONJ_UNIT).alias("score")
    )
    disj_ranked = _salted_topk(disj, "query_id", "score", "doc_id", CONJ_TOP_K).select(
        "query_id", "doc_id"
    )
    hits = (
        conj_ranked.join(disj_ranked, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"), F.min("r_conj").alias("first_rel"))
    )
    n_conj = conj_ranked.groupBy("query_id").agg(F.count("*").alias("n_conj"))
    spine = qterms.select("query_id").distinct()
    return (
        spine.join(n_conj, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_conj"), F.lit(0)).cast("long").alias("n_conj"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(CONJ_TOP_K)), 4
            ).alias("recall_at_10"),
            F.round(F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6).alias(
                "mrr"
            ),
        )
        .orderBy("query_id")
    )


def _conj_ctes() -> str:
    """Shared DuckDB CTE text for the conjunctive family (both
    oracles splice it, so engine and eval cannot drift)."""
    band_n = CONJ_BAND_START - 1 + CONJ_QUERIES * CONJ_TERMS
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) * 1e0 / (SELECT count(*) FROM documents) AS avgdl
), df_ AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), qterms AS MATERIALIZED (
  -- floor, not CAST: DuckDB CAST(double AS INT) rounds half-up
  -- while Spark's cast truncates — floor matches for these
  -- nonnegative ranks
  SELECT CAST(floor((qrank - {CONJ_BAND_START}) * 1e0 / {CONJ_TERMS}) AS INT) AS query_id, term, df
  FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS qrank FROM df_
  ) WHERE qrank >= {CONJ_BAND_START} AND qrank <= {band_n}
), per_doc AS MATERIALIZED (
  SELECT query_id, doc_id, count(*) AS matched, sum(u) AS su FROM (
    SELECT q.query_id, t.doc_id,
           CAST(round(ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * t.tf * {BM25_K1 + 1.0}
                 / (t.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * d.dl / s.avgdl))
                 * {CONJ_UNIT}) AS BIGINT) AS u
    FROM tf t JOIN qterms q USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
  ) GROUP BY query_id, doc_id
), conj_ranked AS MATERIALIZED (
  SELECT query_id, doc_id, su / {CONJ_UNIT} AS score,
         row_number() OVER (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rank
  FROM per_doc WHERE matched = {CONJ_TERMS}
)"""


TEXT_BM25_CONJ_SQL = f"""{_conj_ctes()}
SELECT query_id, doc_id, score, rank FROM conj_ranked
WHERE rank <= {CONJ_TOP_K} ORDER BY query_id, rank
"""


RETRIEVAL_CONJ_EVAL_SQL = f"""{_conj_ctes()},
disj_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY su DESC, doc_id) AS rank
  FROM per_doc
), c AS (SELECT query_id, doc_id, rank AS r_conj FROM conj_ranked WHERE rank <= {CONJ_TOP_K}),
o AS (SELECT query_id, doc_id FROM disj_ranked WHERE rank <= {CONJ_TOP_K}),
hits AS (
  SELECT c.query_id, count(*) AS n_hits, min(c.r_conj) AS first_rel
  FROM c JOIN o ON c.query_id = o.query_id AND c.doc_id = o.doc_id
  GROUP BY c.query_id
), nconj AS (
  SELECT query_id, count(*) AS n_conj FROM c GROUP BY query_id
), spine AS (SELECT DISTINCT query_id FROM qterms)
SELECT s.query_id,
       CAST(coalesce(nc.n_conj, 0) AS BIGINT) AS n_conj,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(CONJ_TOP_K)}, 4) AS recall_at_10,
       round(coalesce(1.0 / h.first_rel, 0.0), 6) AS mrr
FROM spine s LEFT JOIN nconj nc USING (query_id) LEFT JOIN hits h ON s.query_id = h.query_id
ORDER BY s.query_id
"""


QUERIES = {
    "text_bm25": text_bm25,
    "q_hybrid_rrf": q_hybrid_rrf,
    "retrieval_eval": retrieval_eval,
    "text_bm25_conj": text_bm25_conj,
    "retrieval_conj_eval": retrieval_conj_eval,
}

ORACLES = {
    "text_bm25": TEXT_BM25_SQL,
    "q_hybrid_rrf": Q_HYBRID_RRF_SQL,
    "retrieval_eval": RETRIEVAL_EVAL_SQL,
    "text_bm25_conj": TEXT_BM25_CONJ_SQL,
    "retrieval_conj_eval": RETRIEVAL_CONJ_EVAL_SQL,
}
