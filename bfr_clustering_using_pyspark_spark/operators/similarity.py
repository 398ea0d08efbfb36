"""Similarity search over the embedding column.

``ann_bruteforce`` — exact cosine top-k for a query subset; the
correctness baseline, O(q·n) with a broadcast query side so the big
side never shuffles.

``ann_lsh`` — random-hyperplane LSH buckets bound the candidate set;
the 100 TB path (candidates ≈ n/2^bits per bucket instead of n).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.cache import SessionCache
from ..functions.tuning import scoped_shuffle_width, shuffle_width, sized_width
from ..sources.readers import load_table

TOP_K = 5
QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 are the query vectors
# ANN query-set bound, family-wide: with q = n/QUERY_MOD the query
# side grows with the corpus (for brute force that is O(n²/50) total
# work; for the bucketed/listed paths it is an unboundedly growing
# BROADCAST side). Capping membership to the FIXED id set
# {0, 50, ..., (Q_MAX-1)·50} keeps q constant at any corpus size
# (pure row predicate, no sort needed to decide membership). Every
# gate corpus has vec_id < QUERY_MOD·ANN_Q_MAX, so the bound is
# invisible there — hashes unchanged.
ANN_Q_MAX = 200


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Spread an under-partitioned scan: every ANN face joins this
    # frame against a BROADCAST query side, and under a broadcast
    # join stage parallelism equals the PROBE side's partition count
    # — a single-file scan would run the whole O(n·q·d) scoring fold
    # in one task (r10 sf1 catch: ann_bruteforce 30.5s single-task →
    # 2.9s spread). Conditional, so a real many-file corpus layout
    # skips the extra exchange.
    par = spark.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < min(par, 8):
        emb = emb.repartition(par, "vec_id")
    v = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return emb.select("vec_id", v.alias("v"), norm.alias("nrm"))


def _bounded_query_filter(df: DataFrame) -> DataFrame:
    """The family-wide query-set predicate (see ANN_Q_MAX): every ANN
    face selects queries with this ONE helper so the bound cannot
    drift between operators (the SQL oracles carry the same two-term
    predicate)."""
    return df.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < QUERY_MOD * ANN_Q_MAX)
    )


def _with_list_id(df: DataFrame, ranked) -> DataFrame:
    """Attach the IVF list assignment as a PROVABLY NON-NULL column:
    coalesce with a literal lets Catalyst fold the join key's
    inferred isnotnull to true instead of pushing a Filter that
    re-evaluates the whole O(lists*d) centroid fold per row below
    the join (the r8 pushed-down-recompute defect; -1 never fires —
    embeddings are non-null — and never matches a probe list)."""
    return df.withColumn("list_id", F.coalesce(ranked[0]["j"], F.lit(-1)))


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id %
    50 == 0, capped to the fixed ANN_Q_MAX-member id set so
    the broadcast side is O(1) in corpus size — see the constant's
    note). Query side broadcast → data side scans once, no
    shuffle until the tiny per-query top-k window.

    Returned-row contract: the query set is EXACTLY the fixed ids
    {0, 50, ..., (ANN_Q_MAX-1)*50}. On a corpus with vec_id >=
    QUERY_MOD*ANN_Q_MAX (10000) the higher multiples of 50 are
    corpus-only — they are searched, never queried. The SQL oracle
    carries the identical two-term predicate, so gating stays valid
    at ANY corpus size; the cap changes the contract, not parity."""
    base = _base(spark, sf_dir)
    queries = _bounded_query_filter(base).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("nrm").alias("q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


ANN_BRUTEFORCE_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm FROM base
  WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX}
), scored AS (
  SELECT q.q_id, b.vec_id,
         round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2])) / (b.nrm * q.q_nrm), 4) AS cosine
  FROM base b CROSS JOIN queries q
  WHERE b.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""

N_PLANES = 8
_PLANE_DIMS = 64  # embeddings table dimensionality


def _plane_values(j: int, d: int = _PLANE_DIMS) -> list[float]:
    """Hyperplane j's components, derived from md5 so BOTH engines
    can reproduce them exactly (uniform in [-1, 1] — a valid, if
    slightly anisotropic, sign-LSH family; gaussian planes would
    need an RNG the SQL oracle can't replay)."""
    import hashlib

    return [
        (int(hashlib.md5(f"plane{j}_{i}".encode()).hexdigest()[:15], 16) % 2001 - 1000) / 1000.0
        for i in range(d)
    ]


def _bucket_expr(v_col: str, d: int):
    """8-bit sign bucket as a pure JVM fold — no Python in the path,
    and bit-identical to the DuckDB oracle's list_sum. Rendered as
    ONE parsed SQL expression (N_PLANES×d literals cost ~1 s of py4j
    Column construction per call; {x!r}D round-trips each double to
    the identical JVM literal — r15, same recipe as
    _centroid_rank_expr)."""
    terms = []
    for j in range(N_PLANES):
        pl = "array(" + ",".join(f"{float(x)!r}D" for x in _plane_values(j, d)) + ")"
        terms.append(
            f"(CASE WHEN aggregate(zip_with({v_col}, {pl}, (a, b) -> a * b), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return F.expr(f"CAST({' + '.join(terms)} AS BIGINT)")


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k: sign-bucket every vector
    (md5-derived planes, JVM-side fold), then search only within the
    query's bucket. Approximate: recall < 1 by construction; the
    oracle replays the identical plane family in SQL.

    Returned-row contract: same fixed query-id cap as
    ``ann_bruteforce`` — ids above QUERY_MOD*ANN_Q_MAX are
    corpus-only, never queries, in BOTH engines (parity holds at any
    corpus size)."""
    base = _base(spark, sf_dir)
    d = len(base.select("v").first()[0])
    bucketed = base.withColumn("bucket", _bucket_expr("v", d))
    queries = _bounded_query_filter(bucketed).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def _lsh_oracle_sql() -> str:
    terms = []
    for j in range(N_PLANES):
        lit = "[" + ",".join(repr(x) for x in _plane_values(j)) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(v, {lit}), p -> p[1] * p[2])) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v, nrm, CAST({bucket} AS BIGINT) AS bucket FROM base
), queries AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, bucket AS q_bucket
  FROM bucketed WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX}
), scored AS (
  SELECT q.q_id, b.vec_id,
         round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2])) / (b.nrm * q.q_nrm), 4) AS cosine
  FROM bucketed b JOIN queries q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


ANN_LSH_SQL = _lsh_oracle_sql()


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query searches its own sign bucket PLUS
    the 8 Hamming-distance-1 neighbor buckets (one sign bit flipped)
    — the standard recall lift that costs probes, not index size.
    Candidates ≈ 9·n/2^bits per query, still bounded. The query side
    explodes into its probe list and broadcasts; the data side never
    reshuffles.

    Returned-row contract: same fixed query-id cap as
    ``ann_bruteforce`` — ids above QUERY_MOD*ANN_Q_MAX are
    corpus-only, never queries, in BOTH engines (parity holds at any
    corpus size)."""
    base = _base(spark, sf_dir)
    d = len(base.select("v").first()[0])
    bucketed = base.withColumn("bucket", _bucket_expr("v", d))
    probes = F.array(
        F.col("bucket"), *[F.expr(f"bucket ^ {1 << j}") for j in range(N_PLANES)]
    )
    queries = (
        _bounded_query_filter(bucketed)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q_v"),
            F.col("nrm").alias("q_nrm"),
            F.explode(probes).alias("q_bucket"),
        )
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"))
        .distinct()
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def _lsh_multiprobe_oracle_sql() -> str:
    terms = []
    for j in range(N_PLANES):
        lit = "[" + ",".join(repr(x) for x in _plane_values(j)) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(v, {lit}), p -> p[1] * p[2])) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    probe_list = "[bucket" + "".join(f", xor(bucket, {1 << j})" for j in range(N_PLANES)) + "]"
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v, nrm, CAST({bucket} AS BIGINT) AS bucket FROM base
), queries AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm,
         unnest({probe_list}) AS q_bucket
  FROM bucketed WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX}
), scored AS (
  SELECT DISTINCT q.q_id, b.vec_id,
         round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2])) / (b.nrm * q.q_nrm), 4) AS cosine
  FROM bucketed b JOIN queries q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


ANN_LSH_MULTIPROBE_SQL = _lsh_multiprobe_oracle_sql()

N_IVF_LISTS = 16
N_PROBE = 4
# Oracle-replay domain for the IVF family: up to this many vectors
# the list count is PINNED at N_IVF_LISTS, which is what the static
# SQL oracles replay (every gate/fuzz corpus is far below it; beyond
# it they fail fast — see the guard CTE). Beyond it the list count
# adapts to the workload model below (a fixed 16-list layout measured
# ~1.8x super-linear at a 30x scale-up: every probe scanned n/16
# vectors).
IVF_SMALL_N = 16384


def _n_ivf_lists(n: int) -> int:
    """Balance the two per-list-count costs for THIS op's workload:
    quantization is n·lists centroid distances (the map-side
    assignment scores every centroid), probing is q·N_PROBE·(n/lists)
    candidate scores with q = min(n/QUERY_MOD, ANN_Q_MAX) queries.
    Total is minimized at lists* = sqrt(q·N_PROBE) — with the bounded
    query set this is CONSTANT (32) above the cap, which keeps total
    cost LINEAR in n: quantize n·32 + probe 200·4·(n/32), balanced.
    A deployment with a different query volume resizes by the same
    formula. (Pure sqrt(n) lists overshoots by scoring too many
    centroids per row — measured 5x slower at a 10x scale-up.)"""
    import math

    if n <= IVF_SMALL_N:
        return N_IVF_LISTS
    # above the pin n/QUERY_MOD always exceeds ANN_Q_MAX, so q is the
    # cap and the optimum is the constant 32
    return 1 << math.ceil(math.log2(math.sqrt(ANN_Q_MAX * N_PROBE)))


def _ivf_centroid(j: int, d: int = _PLANE_DIMS) -> list[float]:
    """Coarse-quantizer centroid j: md5-derived uniform components
    normalized to unit length, so BOTH engines replay the identical
    quantizer (the embeddings are unit-norm, so unit centroids give
    argmin-distance == argmax-dot Voronoi cells). A trained k-means
    quantizer (ann_ivf) clusters better but is seed-dependent; this
    family keeps the physical-layout op hash-gateable."""
    import hashlib

    raw = [
        (int(hashlib.md5(f"ivfcent{j}_{i}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for i in range(d)
    ]
    nrm = sum(x * x for x in raw) ** 0.5
    return [x / nrm for x in raw]


def _centroid_rank_expr(v_col: str, n_lists: int = N_IVF_LISTS):
    """array of (d2, j) structs sorted ascending — slot 0 is the
    assignment, the first N_PROBE slots are a query's probe lists.
    One higher-order transform over an array-of-arrays centroid
    literal (lambda body exists once in the plan — the unrolled
    per-centroid form was a codegen-size liability), then an indexed
    transform attaches the list ids; a map-side projection, no
    shuffle."""
    # rendered as ONE parsed SQL expression, not a Column build: the
    # n_lists×dim F.lit matrix cost 1.7-2.7 s of py4j round-trips per
    # CALL (r15 profile — charged per micro-batch in stream_ann_index
    # and once per IVF query), vs ~1 ms to parse the text. {x!r}D is
    # the shortest-repr double round-trip, so the JVM sees the
    # identical literals and the plan is bit-for-bit the old one
    # (same recipe as the bfr_lloyd_det literal matrices, r14).
    cents = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in _ivf_centroid(j)) + ")"
            for j in range(n_lists)
        )
        + ")"
    )
    return F.expr(
        f"array_sort(transform(transform({cents}, "
        f"c -> aggregate(zip_with({v_col}, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)), "
        f"(d, i) -> named_struct('d', d, 'j', CAST(i AS INT))))"
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN as a pure logical plan: the
    deterministic md5 coarse quantizer (``_ivf_centroid``) assigns
    every vector to one of ``N_IVF_LISTS`` lists via a map-side JVM
    fold; each query probes its ``N_PROBE`` nearest lists only —
    candidate count drops to ~n·nprobe/nlists. ``ann_ivf_partitioned``
    is the same semantics pushed into a physical parquet layout with
    directory pruning; a hash match on BOTH proves the logical plan
    and the physical layout agree row-for-row. (A trained k-means
    quantizer — ``ml.kmeans.mllib_kmeans`` — clusters real corpora
    better but is seed-dependent; swap it in where replayability
    isn't required.)"""
    return _ivf_topk(spark, sf_dir, N_PROBE)


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The IVF logical plan at an explicit probe width — ``ann_ivf``
    is this at ``N_PROBE``; ``ann_recall_curve`` sweeps it."""
    base = _base(spark, sf_dir)
    # one metadata count sizes the quantizer beyond the pinned
    # oracle-replay domain (see _n_ivf_lists / IVF_SMALL_N)
    ranked = _centroid_rank_expr("v", _n_ivf_lists(base.count()))
    listed = _with_list_id(base, ranked)
    queries = _bounded_query_filter(base).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
        F.explode(F.transform(F.slice(ranked, 1, nprobe), lambda s: s["j"])).alias(
            "probe_list"
        ),
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        listed.join(
            F.broadcast(queries),
            (F.col("list_id") == F.col("probe_list")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


N_TRUNC_DIMS = 32  # cheap-score dims (half of 64) for the shortlist
SHORTLIST_MULT = 6  # shortlist size = SHORTLIST_MULT * TOP_K
# On the synthetic testdata (near-isotropic embeddings) 32/64 dims
# retain most of plain-IVF recall at half the stage-1 FLOPs; real
# corpora with decaying spectra (or a true PQ codebook) do better.


def ann_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with two-stage re-ranking (the IVF-PQ shape): probe the
    query's ``N_PROBE`` nearest lists (same md5 quantizer as
    ``ann_ivf``, so the oracle replays it), score candidates with a
    CHEAP approximation (dot over the first ``N_TRUNC_DIMS`` dims —
    the stand-in for a PQ/ADC lookup, rounded to 4 so the shortlist
    cut is engine-stable), keep a ``SHORTLIST_MULT``·k shortlist per
    query, then re-rank only the shortlist with the exact
    full-dimension cosine. At 100 TB the expensive distance runs on
    O(q·6k) rows instead of O(q·n·nprobe/nlists)."""
    base = _base(spark, sf_dir)
    # one metadata count sizes the quantizer beyond the pinned
    # oracle-replay domain (see _n_ivf_lists / IVF_SMALL_N)
    ranked = _centroid_rank_expr("v", _n_ivf_lists(base.count()))
    listed = _with_list_id(base, ranked)
    queries = _bounded_query_filter(base).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
        F.explode(F.transform(F.slice(ranked, 1, N_PROBE), lambda s: s["j"])).alias(
            "probe_list"
        ),
    )
    # stage 1: cheap truncated-dot score over probed lists only
    trunc_dot = F.aggregate(
        F.zip_with(
            F.slice("v", 1, N_TRUNC_DIMS), F.slice("q_v", 1, N_TRUNC_DIMS), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = listed.join(
        F.broadcast(queries),
        (F.col("list_id") == F.col("probe_list")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id", "vec_id", "v", "nrm", "q_v", "q_nrm",
        F.round(trunc_dot, 4).alias("approx_score"),
    )
    w_short = W.partitionBy("q_id").orderBy(F.desc("approx_score"), "vec_id")
    shortlist = cand.withColumn("srank", F.row_number().over(w_short)).filter(
        F.col("srank") <= SHORTLIST_MULT * TOP_K
    )
    # stage 2: exact cosine only on the shortlist
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    rescored = shortlist.select(
        "q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with lists as PHYSICAL partition keys — the 100 TB layout
    ann_ivf's docstring promises. The corpus is written once to
    parquet ``partitionBy(list_id)`` (one directory per inverted
    list); each query computes its ``N_PROBE`` nearest lists and the
    probe scan reads ONLY those directories — Spark's partition
    pruning drops the rest at planning time, so a query touches
    nprobe/nlists of the bytes no matter how big the corpus gets
    (tests assert the pruned file set).

    Assignment and probing share one deterministic md5-derived
    quantizer (``_ivf_centroid``), so unlike the k-means-seeded
    ``ann_ivf`` this end-to-end path is hash-gated: the oracle
    replays quantizer, probes, and ranking in SQL."""
    import shutil
    import tempfile

    from ..functions.tuning import shuffle_width

    base = _base(spark, sf_dir)
    # one metadata count sizes the quantizer beyond the pinned
    # oracle-replay domain (see _n_ivf_lists / IVF_SMALL_N)
    n_lists = _n_ivf_lists(base.count())
    ranked = _centroid_rank_expr("v", n_lists)
    assigned = _with_list_id(base, ranked)
    # staging (deleted in the finally) in the tempfile default; shuffle
    # on the PARTITION COLUMN first so each inverted list lands in
    # exactly one task → one file per list directory instead of one
    # per scan task per directory (guide §6 small-files — the same
    # discipline as the streaming index writer, stream_ann_index)
    out_dir = tempfile.mkdtemp(prefix="ivf_lists_")
    try:
        assigned.repartition(
            min(shuffle_width(spark), n_lists), "list_id"
        ).write.mode("overwrite").partitionBy("list_id").parquet(out_dir)

        queries = (
            _bounded_query_filter(base)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("v").alias("q_v"),
                F.col("nrm").alias("q_nrm"),
                F.explode(F.transform(F.slice(ranked, 1, N_PROBE), lambda s: s["j"])).alias(
                    "probe_list"
                ),
            )
        )
        # the union of probed lists is bounded by nlists (16 values),
        # not by data size — collecting it drives directory pruning
        probe_ids = sorted(r[0] for r in queries.select("probe_list").distinct().collect())
        data = spark.read.parquet(out_dir).filter(F.col("list_id").isin(probe_ids))

        dot = F.aggregate(
            F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        scored = (
            data.join(
                F.broadcast(queries),
                (F.col("list_id") == F.col("probe_list")) & (F.col("vec_id") != F.col("q_id")),
            )
            .select("q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"))
        )
        w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
        # eager checkpoint pins the (tiny) top-k result so the staged
        # list directories can be removed without leaking per run
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "vec_id", "cosine", "rank")
            .orderBy("q_id", "rank")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def _ivf_guard_cte(n_lists: int) -> str:
    """Fail-fast domain guard, regime-aware (r11): the oracle
    replays exactly ``n_lists`` centroids, so it errors loudly unless
    ``_n_ivf_lists(count(*))`` — replayed in SQL as the same two-
    regime CASE — resolves to that count. The static exported SQL is
    built at N_IVF_LISTS (valid up to IVF_SMALL_N, every gate/fuzz
    corpus); the sf1 sweep builds the 32-list variant for the large
    regime, closing the scale-decade oracle exclusion."""
    big = _n_ivf_lists(IVF_SMALL_N + 1)
    return f"""guard AS (
  SELECT CASE WHEN (CASE WHEN count(*) <= {IVF_SMALL_N} THEN {N_IVF_LISTS} ELSE {big} END) <> {n_lists} THEN error(
    'corpus size is outside this IVF oracle replay domain: the engine sizes the quantizer as {N_IVF_LISTS} lists up to n={IVF_SMALL_N} and {big} beyond; rebuild the oracle SQL with the matching n_lists before gating')
  ELSE 1 END AS ok FROM embeddings
)"""


def _ivf_partitioned_oracle_sql(n_lists: int = N_IVF_LISTS, nprobe: int = N_PROBE) -> str:
    rows = ", ".join(
        "(" + str(j) + ", [" + ",".join(repr(x) for x in _ivf_centroid(j)) + "])"
        for j in range(n_lists)
    )
    return f"""
WITH {_ivf_guard_cte(n_lists)}, base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings WHERE (SELECT ok FROM guard) = 1
), cent(j, c) AS (VALUES {rows}),
dists AS (
  SELECT vec_id, v, nrm, j,
         list_sum(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d,
         row_number() OVER (PARTITION BY vec_id ORDER BY
           list_sum(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))), j) AS rk
  FROM base CROSS JOIN cent
), assigned AS (
  SELECT vec_id, v, nrm, j AS list_id FROM dists WHERE rk = 1
), qprobe AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, j AS probe_list
  FROM dists WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX} AND rk <= {nprobe}
), scored AS (
  SELECT q.q_id, a.vec_id,
         round(list_sum(list_transform(list_zip(a.v, q.q_v), p -> p[1] * p[2])) / (a.nrm * q.q_nrm), 4) AS cosine
  FROM assigned a JOIN qprobe q ON a.list_id = q.probe_list AND a.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


ANN_IVF_PARTITIONED_SQL = _ivf_partitioned_oracle_sql()

# ann_ivf shares the partitioned key's oracle verbatim: the two plans
# are the SAME semantics (md5 quantizer, nprobe lists, exact cosine
# top-k) executed logically vs through a physical partitioned layout
# — matching hashes on both proves layout/logical equivalence.
ANN_IVF_SQL = ANN_IVF_PARTITIONED_SQL


def _ivf_rerank_oracle_sql(n_lists: int = N_IVF_LISTS) -> str:
    rows = ", ".join(
        "(" + str(j) + ", [" + ",".join(repr(x) for x in _ivf_centroid(j)) + "])"
        for j in range(n_lists)
    )
    return f"""
WITH {_ivf_guard_cte(n_lists)}, base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings WHERE (SELECT ok FROM guard) = 1
), cent(j, c) AS (VALUES {rows}),
dists AS (
  SELECT vec_id, v, nrm, j,
         row_number() OVER (PARTITION BY vec_id ORDER BY
           list_sum(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))), j) AS rk
  FROM base CROSS JOIN cent
), assigned AS (
  SELECT vec_id, v, nrm, j AS list_id FROM dists WHERE rk = 1
), qprobe AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, j AS probe_list
  FROM dists WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX} AND rk <= {N_PROBE}
), cand AS (
  SELECT q.q_id, a.vec_id, a.v, a.nrm, q.q_v, q.q_nrm,
         round(list_sum(list_transform(
           list_zip(a.v[1:{N_TRUNC_DIMS}], q.q_v[1:{N_TRUNC_DIMS}]),
           p -> p[1] * p[2])), 4) AS approx_score
  FROM assigned a JOIN qprobe q ON a.list_id = q.probe_list AND a.vec_id <> q.q_id
), shortlist AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx_score DESC, vec_id) AS srank
  FROM cand
), rescored AS (
  SELECT q_id, vec_id,
         round(list_sum(list_transform(list_zip(v, q_v), p -> p[1] * p[2])) / (nrm * q_nrm), 4) AS cosine
  FROM shortlist WHERE srank <= {SHORTLIST_MULT * TOP_K}
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


ANN_IVF_RERANK_SQL = _ivf_rerank_oracle_sql()

PQ_M = 8  # subspaces
# vec_ids whose subvectors seed the codebooks: 16 centroids per
# subspace (4-bit codes)
PQ_ANCHOR_LO, PQ_ANCHOR_HI = 1, 16
PQ_SHORTLIST = 20 * TOP_K  # ADC shortlist depth before exact re-rank
# (measured: shortlist 100 → recall@5 0.84 at sf0.001 / 0.60 at
# sf0.1 vs brute force; the exact re-rank touches only O(q·100) rows
# so depth is nearly free at any corpus size)
# Queries are an EXPLICIT bounded id list (20 ids at any corpus size),
# not a corpus-growing vec_id % MOD slice — the per-query LUT side
# stays O(1) no matter how big the data gets.
PQ_QUERY_IDS = tuple(range(0, 1000, 50))


def _pq_anchor_units(spark: SparkSession, sf_dir: str):
    """(unit_df, books): unit-normalized vectors plus the PQ codebook
    — center (m, k) is subspace m of anchor vector k. Anchors are a
    FIXED bounded id range, so the codebook is (a) data-adaptive (real
    corpus points, the k-means-free PQ seeding), (b) O(K·d) driver
    metadata exactly like a trained FAISS codebook, and (c) replayable
    by the SQL oracle from the same table — no RNG anywhere."""
    base = _base(spark, sf_dir)
    unit = base.select(
        "vec_id",
        F.transform("v", lambda x: x / F.col("nrm")).alias("u"),
        "v",
        "nrm",
    )
    anchors = (
        unit.filter(F.col("vec_id").between(PQ_ANCHOR_LO, PQ_ANCHOR_HI))
        .orderBy("vec_id")
        .select("u")
        .collect()
    )
    # the oracle indexes centers as k = vec_id - PQ_ANCHOR_LO while
    # this side indexes positionally over the collected list — a gap
    # in the anchor id range would silently misalign the two; fail
    # fast instead of hash-mismatching far from the cause
    expected = PQ_ANCHOR_HI - PQ_ANCHOR_LO + 1
    if len(anchors) != expected:
        raise ValueError(
            f"PQ anchor range [{PQ_ANCHOR_LO}, {PQ_ANCHOR_HI}] is sparse: "
            f"found {len(anchors)} of {expected} vec_ids — positional "
            "codebook indexing would diverge from the oracle's "
            "id-offset indexing"
        )
    dsub = _PLANE_DIMS // PQ_M
    # books[m][k] = center vector (length dsub)
    books = [
        [list(anchors[k][0][m * dsub : (m + 1) * dsub]) for k in range(len(anchors))]
        for m in range(PQ_M)
    ]
    return unit, books


def _pq_cent_sql(books, m: int) -> str:
    # array<array<double>> literal SQL: subspace m's K centers —
    # rendered as text, not Columns (the M·K·dsub F.lit matrix cost
    # ~3 s of py4j construction per plan build; {x!r}D parses to the
    # identical double — r15, same recipe as _centroid_rank_expr)
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in books[m]
        )
        + ")"
    )


def _pq_d2s_sql(books, col: str, m: int) -> str:
    # distances to all K centers via ONE higher-order transform —
    # the lambda body exists once in the plan (runtime-evaluated
    # per element), so expression size stays O(M), not O(M·K·d);
    # the naive unrolled form blew whole-stage codegen and ran
    # ~10× slower
    dsub = _PLANE_DIMS // PQ_M
    sub = f"slice({col}, {m * dsub + 1}, {dsub})"
    return (
        f"transform({_pq_cent_sql(books, m)}, "
        f"c -> aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def _pq_codes_expr(books, col: str = "u"):
    """PQ encoding expression: argmin_k per subspace;
    array_position finds the FIRST index of the min → ties break to
    the smaller k, matching the oracle's ORDER BY d2, k."""
    parts = []
    for m in range(PQ_M):
        d2s = _pq_d2s_sql(books, col, m)
        parts.append(
            f"CAST(array_position({d2s}, array_min({d2s})) - 1 AS INT)"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _pq_lut_expr(books, col: str = "u"):
    """Per-query ADC lookup table: lut[m][k] = <q_sub_m, c_mk>."""
    dsub = _PLANE_DIMS // PQ_M
    parts = []
    for m in range(PQ_M):
        sub = f"slice({col}, {m * dsub + 1}, {dsub})"
        parts.append(
            f"transform({_pq_cent_sql(books, m)}, "
            f"c -> aggregate(zip_with({sub}, c, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IVF-PQ memory recipe),
    hash-gated end to end: compress every vector to M=8 4-bit codes
    (64 dims × 4 B → 4 B per vector, a 64× memory cut) against
    codebooks seeded from a FIXED anchor-id range of corpus vectors,
    answer a bounded explicit query set entirely from codes via
    asymmetric-distance (ADC) lookup tables, then re-rank the
    ADC shortlist with the exact cosine — the standard recall
    restoration. Everything — codebooks, codes, LUTs, shortlist cut,
    re-rank — is replayed by the DuckDB oracle from the same parquet.

    Scale: the codebook is O(K·d) metadata (16 anchor vectors)
    embedded as plan literals — the FAISS pattern of shipping trained
    codebooks to every node; encoding is a map-side JVM fold (no
    Python, no shuffle); ADC scans codes once per bounded query set;
    the exact distance touches only O(q·shortlist) rows.
    ``ann_ivfpq`` composes this with the IVF lists so each query
    scans only probed codes — the full 100 TB recipe."""
    unit, books = _pq_anchor_units(spark, sf_dir)
    coded = unit.select("vec_id", "u", _pq_codes_expr(books).alias("codes"))
    qlut = (
        unit.filter(F.col("vec_id").isin(*PQ_QUERY_IDS))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("u").alias("q_u"),
            _pq_lut_expr(books).alias("lut"),
        )
    )

    # ADC: one pass over the code table per query — approx cosine of a
    # code word = Σ_m lut[m][code_m] (sequential fold, oracle-matched)
    scored = coded.join(F.broadcast(qlut), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        "u",
        "q_u",
        F.round(
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double),"
                f" (acc, m) -> acc + lut[m][codes[m]])"
            ),
            4,
        ).alias("approx_cos"),
    )
    w_short = W.partitionBy("q_id").orderBy(F.desc("approx_cos"), "vec_id")
    shortlist = scored.withColumn("srank", F.row_number().over(w_short)).filter(
        F.col("srank") <= PQ_SHORTLIST
    )
    # exact re-rank on the shortlist only (unit vectors → plain dot)
    exact = F.aggregate(
        F.zip_with("u", "q_u", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    rescored = shortlist.select("q_id", "vec_id", F.round(exact, 4).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full FAISS billion-scale recipe composed from
    the two verified halves: the md5 coarse quantizer routes every
    vector to an inverted list (``ann_ivf``'s contract) AND every
    vector is PQ-encoded to M=8 4-bit codes (``ann_pq``'s contract);
    a query probes only its ``N_PROBE`` nearest lists, scores the
    probed CODES via the ADC lookup table (no full-precision vector
    is touched in the scan), then re-ranks the shortlist with the
    exact cosine.

    Scale composition: candidate volume drops to n·nprobe/nlists AND
    each candidate costs an M-entry LUT sum instead of a d-dim dot —
    the two orthogonal cost cuts multiplied, which is why this is
    the architecture behind every production ANN deployment. Both
    quantizers are deterministic (md5 centroids, anchor-id
    codebooks), so the ENTIRE composition is hash-gated: the oracle
    replays list assignment, codes, LUTs, probe routing, shortlist
    cut and re-rank from the same parquet. Assignment runs on the
    UNIT vectors (the PQ domain), documented difference from
    ann_ivf's raw-vector assignment."""
    unit, books = _pq_anchor_units(spark, sf_dir)
    # one metadata count sizes the quantizer beyond the pinned
    # oracle-replay domain (see _n_ivf_lists / IVF_SMALL_N)
    ranked = _centroid_rank_expr("u", _n_ivf_lists(unit.count()))
    coded = _with_list_id(unit, ranked).select(
        "vec_id", "u", "list_id", _pq_codes_expr(books).alias("codes")
    )
    qprobe = unit.filter(F.col("vec_id").isin(*PQ_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("u").alias("q_u"),
        _pq_lut_expr(books).alias("lut"),
        F.explode(F.transform(F.slice(ranked, 1, N_PROBE), lambda s: s["j"])).alias(
            "probe_list"
        ),
    )
    scored = coded.join(
        F.broadcast(qprobe),
        (F.col("list_id") == F.col("probe_list")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        "vec_id",
        "u",
        "q_u",
        F.round(
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double),"
                f" (acc, m) -> acc + lut[m][codes[m]])"
            ),
            4,
        ).alias("approx_cos"),
    )
    w_short = W.partitionBy("q_id").orderBy(F.desc("approx_cos"), "vec_id")
    shortlist = scored.withColumn("srank", F.row_number().over(w_short)).filter(
        F.col("srank") <= PQ_SHORTLIST
    )
    exact = F.aggregate(
        F.zip_with("u", "q_u", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    rescored = shortlist.select("q_id", "vec_id", F.round(exact, 4).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


def _ivfpq_oracle_sql(n_lists: int = N_IVF_LISTS) -> str:
    dsub = _PLANE_DIMS // PQ_M
    rows = ", ".join(
        "(" + str(j) + ", [" + ",".join(repr(x) for x in _ivf_centroid(j)) + "])"
        for j in range(n_lists)
    )
    return f"""
WITH {_ivf_guard_cte(n_lists)}, base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings WHERE (SELECT ok FROM guard) = 1
), unit AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM base
), ivfcent(j, c) AS (VALUES {rows}),
dists AS (
  SELECT vec_id, u, j,
         row_number() OVER (PARTITION BY vec_id ORDER BY
           list_sum(list_transform(list_zip(u, c), p -> (p[1] - p[2]) * (p[1] - p[2]))), j) AS rk
  FROM unit CROSS JOIN ivfcent
), assigned AS (
  SELECT vec_id, j AS list_id FROM dists WHERE rk = 1
), cent AS (
  SELECT m.m, a.vec_id - {PQ_ANCHOR_LO} AS k,
         a.u[m.m * {dsub} + 1 : (m.m + 1) * {dsub}] AS c
  FROM unit a, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
  WHERE a.vec_id BETWEEN {PQ_ANCHOR_LO} AND {PQ_ANCHOR_HI}
), enc AS (
  SELECT u.vec_id, c.m, c.k,
         row_number() OVER (
           PARTITION BY u.vec_id, c.m
           ORDER BY list_sum(list_transform(
             list_zip(u.u[c.m * {dsub} + 1 : (c.m + 1) * {dsub}], c.c),
             p -> (p[1] - p[2]) * (p[1] - p[2]))), c.k) AS rk
  FROM unit u CROSS JOIN cent c
), codes AS (
  SELECT vec_id, m, k FROM enc WHERE rk = 1
), lutrows AS (
  SELECT q.vec_id AS q_id, c.m, c.k,
         list_sum(list_transform(
           list_zip(q.u[c.m * {dsub} + 1 : (c.m + 1) * {dsub}], c.c),
           p -> p[1] * p[2])) AS val
  FROM unit q CROSS JOIN cent c
  WHERE q.vec_id IN {PQ_QUERY_IDS}
), qprobe AS (
  SELECT vec_id AS q_id, j AS probe_list FROM dists
  WHERE vec_id IN {PQ_QUERY_IDS} AND rk <= {N_PROBE}
), scored AS (
  SELECT l.q_id, e.vec_id, round(list_sum(list(l.val ORDER BY e.m)), 4) AS approx_cos
  FROM codes e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN qprobe p ON a.list_id = p.probe_list
  JOIN lutrows l ON e.m = l.m AND e.k = l.k AND l.q_id = p.q_id
  WHERE e.vec_id <> l.q_id
  GROUP BY l.q_id, e.vec_id
), shortlist AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, vec_id) AS srank
  FROM scored
), rescored AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(list_zip(du.u, qu.u), p -> p[1] * p[2])), 4) AS cosine
  FROM shortlist s
  JOIN unit du ON s.vec_id = du.vec_id
  JOIN unit qu ON s.q_id = qu.vec_id
  WHERE s.srank <= {PQ_SHORTLIST}
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


ANN_IVFPQ_SQL = _ivfpq_oracle_sql()


ANN_PQ_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), unit AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM base
), cent AS (
  SELECT m.m, a.vec_id - {PQ_ANCHOR_LO} AS k,
         a.u[m.m * {_PLANE_DIMS // PQ_M} + 1 : (m.m + 1) * {_PLANE_DIMS // PQ_M}] AS c
  FROM unit a, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
  WHERE a.vec_id BETWEEN {PQ_ANCHOR_LO} AND {PQ_ANCHOR_HI}
), enc AS (
  SELECT u.vec_id, c.m, c.k,
         row_number() OVER (
           PARTITION BY u.vec_id, c.m
           ORDER BY list_sum(list_transform(
             list_zip(u.u[c.m * {_PLANE_DIMS // PQ_M} + 1 : (c.m + 1) * {_PLANE_DIMS // PQ_M}], c.c),
             p -> (p[1] - p[2]) * (p[1] - p[2]))), c.k) AS rk
  FROM unit u CROSS JOIN cent c
), codes AS (
  SELECT vec_id, m, k FROM enc WHERE rk = 1
), lutrows AS (
  SELECT q.vec_id AS q_id, c.m, c.k,
         list_sum(list_transform(
           list_zip(q.u[c.m * {_PLANE_DIMS // PQ_M} + 1 : (c.m + 1) * {_PLANE_DIMS // PQ_M}], c.c),
           p -> p[1] * p[2])) AS val
  FROM unit q CROSS JOIN cent c
  WHERE q.vec_id IN {PQ_QUERY_IDS}
), scored AS (
  SELECT l.q_id, e.vec_id, round(list_sum(list(l.val ORDER BY e.m)), 4) AS approx_cos
  FROM codes e JOIN lutrows l ON e.m = l.m AND e.k = l.k
  WHERE e.vec_id <> l.q_id
  GROUP BY l.q_id, e.vec_id
), shortlist AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, vec_id) AS srank
  FROM scored
), rescored AS (
  SELECT s.q_id, s.vec_id,
         round(list_sum(list_transform(list_zip(du.u, qu.u), p -> p[1] * p[2])), 4) AS cosine
  FROM shortlist s
  JOIN unit du ON s.vec_id = du.vec_id
  JOIN unit qu ON s.q_id = qu.vec_id
  WHERE s.srank <= {PQ_SHORTLIST}
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K} ORDER BY q_id, rank
"""


def knn_classify_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval: predict each query vector's label by
    majority vote of its top-5 cosine neighbors (ties broken by the
    smaller label — deterministic), then report per-true-label
    accuracy. Composes the brute-force plan, so even this ML
    evaluation is hash-gated — the oracle replays the vote over the
    same neighbor sets.

    (The embeddings are barely separable — see tests — so accuracy
    hovers near chance; the operator's value is the verified VOTE
    mechanics, which transfer unchanged to separable corpora.)"""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    nn = ann_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    votes = (
        nn.join(emb, "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("n_votes"), "label")
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("q_id", F.col("label").alias("pred_label"))
    )
    truth = emb.select(F.col("vec_id").alias("q_id"), F.col("label").alias("true_label"))
    return (
        pred.join(truth, "q_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum((F.col("pred_label") == F.col("true_label")).cast("long")).alias("n_correct"),
        )
        .orderBy("true_label")
    )


KNN_CLASSIFY_EVAL_SQL = f"""
WITH nn AS (
  SELECT q_id, vec_id FROM ({ANN_BRUTEFORCE_SQL})
), votes AS (
  SELECT q_id, label, count(*) AS n_votes
  FROM nn JOIN embeddings USING (vec_id)
  GROUP BY q_id, label
), pred AS (
  SELECT q_id, label AS pred_label FROM (
    SELECT q_id, label,
           row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT e.label AS true_label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM pred JOIN embeddings e ON pred.q_id = e.vec_id
GROUP BY 1 ORDER BY true_label
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the multi-probe LSH path against the brute-force
    ground truth, per query vector — the evaluation loop every ANN
    deployment runs before trading recall for speed. Both inputs are
    deterministic (md5-derived hyperplanes), so even the EVALUATION
    is hash-gated: the oracle composes the two query oracles and
    joins them exactly like this plan."""
    truth = ann_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    approx = ann_lsh_multiprobe(spark, sf_dir).select("q_id", "vec_id")
    n_truth = truth.groupBy("q_id").agg(F.count("*").alias("n_truth"))
    n_hit = (
        truth.join(approx, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_truth.join(n_hit, "q_id", "left")
        .select(
            "q_id",
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_truth"), 4).alias("recall"),
        )
        .orderBy("q_id")
    )


ANN_RECALL_EVAL_SQL = f"""
WITH truth AS (
  SELECT q_id, vec_id FROM ({ANN_BRUTEFORCE_SQL})
), approx AS (
  SELECT q_id, vec_id FROM ({ANN_LSH_MULTIPROBE_SQL})
), nt AS (
  SELECT q_id, CAST(count(*) AS BIGINT) AS n_truth FROM truth GROUP BY q_id
), nh AS (
  SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY t.q_id
)
SELECT nt.q_id, n_truth,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
       round(coalesce(n_hit, 0) * 1e0 / n_truth, 4) AS recall
FROM nt LEFT JOIN nh ON nt.q_id = nh.q_id
ORDER BY nt.q_id
"""


RECALL_CURVE_NPROBES = (1, 2, 4)


def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF OPERATING CURVE: micro-averaged recall@{TOP_K} of the
    IVF path against brute-force ground truth at nprobe ∈ {1, 2, 4}
    — the recall/cost trade-off table every ANN deployment tunes
    before picking its probe width (candidate volume scales linearly
    with nprobe; this key shows exactly what each step buys). All
    legs are deterministic, so the WHOLE curve is hash-gated: the
    oracle replays brute force plus each probe width and joins them
    like this plan. Output one row per nprobe:
    (nprobe, n_truth, n_hit, recall).

    Scale: the truth and each IVF leg are the bounded-query-set
    evals (q ≤ ANN_Q_MAX); the recall join is |q·k| rows per leg.
    Micro recall sums exact integer hit counts — order-free."""
    truth = ann_bruteforce(spark, sf_dir).select("q_id", "vec_id").localCheckpoint(
        eager=True
    )
    out = None
    for nprobe in RECALL_CURVE_NPROBES:
        approx = _ivf_topk(spark, sf_dir, nprobe).select("q_id", "vec_id")
        hits = truth.join(approx, ["q_id", "vec_id"], "left_semi")
        row = truth.agg(F.count("*").alias("n_truth")).crossJoin(
            hits.agg(F.count("*").alias("n_hit"))
        ).select(
            F.lit(nprobe).cast("int").alias("nprobe"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hit").cast("long").alias("n_hit"),
            # scale-0 round of an exact-integer-ratio double: tie
            # quotients k+0.5 are binary-exact and both engines round
            # HALF_UP (the hash-safe form; round(x, 4) is not)
            (
                F.round(F.col("n_hit") * 10000.0 / F.col("n_truth")).cast("long")
                / 10000.0
            ).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


def _recall_curve_sql(n_lists: int = N_IVF_LISTS) -> str:
    legs = []
    for nprobe in RECALL_CURVE_NPROBES:
        legs.append(
            f"""SELECT CAST({nprobe} AS INT) AS nprobe,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT)
        FROM truth t JOIN ({_ivf_partitioned_oracle_sql(n_lists, nprobe)}) a
          ON t.q_id = a.q_id AND t.vec_id = a.vec_id) AS n_hit"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH truth AS MATERIALIZED (
  SELECT q_id, vec_id FROM ({ANN_BRUTEFORCE_SQL})
)
SELECT nprobe, n_truth, n_hit,
       CAST(round(n_hit * 1e4 / n_truth) AS BIGINT) / 1e4 AS recall
FROM (
{union}
)
ORDER BY nprobe
"""


ANN_RECALL_CURVE_SQL = _recall_curve_sql()


NND_K = 8       # neighbors kept per node each round
NND_ITERS = 2   # neighbor-of-neighbor refinement rounds


def _nnd_cos(a_col: str, b_col: str):
    dot = F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.round(dot, 4)


# The NN-Descent index is an ARTIFACT — built once, PERSISTED to the
# warehouse as parquet, then queried. Both faces (`ann_nndescent_graph`
# returns it, `ann_graph_search` walks it) resolve through two cache
# tiers: a session cache of pinned DataFrames (functions/cache.py),
# backed by the ``nnd_index`` fixture store (sources/fixtures.py — keyed
# by the embeddings' corpus version, the build params and the format,
# published atomically, retention-pruned) — so a FRESH session (or
# process) reloads the stored index instead of rebuilding, exactly as a
# production deployment reads its ANN index table from storage.
_NND_GRAPH_CACHE = SessionCache(4)

# incremented by the index build only — lets tests assert that a
# warehouse hit performs NO rebuild
NND_BUILD_COUNT = 0

# bump when the BUILD ALGORITHM changes: the on-disk digest must
# invalidate artifacts produced by older build code, or a code change
# would silently keep serving stale indexes
NND_INDEX_FORMAT = 1


def _nnd_graph_and_n(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Materialized NN-Descent k-NN graph (a, b, cosine, rank) plus
    the vector count it was built over, built at most once per
    (sf_dir, build params, data version) ACROSS sessions — the params
    are in the key so a caller tuning NND_K/NND_ITERS (tests do) gets
    a fresh build, not a stale cache hit. Sharing n spares the search
    a second full scan of the vector table."""
    return _NND_GRAPH_CACHE.get_or_build(
        spark,
        lambda: _nnd_graph_load_or_build(spark, sf_dir),
        f"{sf_dir}/embeddings.parquet",
        NND_K,
        NND_ITERS,
    )


def _nnd_graph_load_or_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    import os

    from ..sources.fixtures import ensure_fixture

    def stage(d: str) -> None:
        global NND_BUILD_COUNT
        # Size the build's shuffle width to its data: every exchange
        # in the build moves O(n·K²) candidate edges, so at gate SF the
        # session default (200) is ~25 tasks of scheduler overhead per
        # row of work. ~1M candidate rows per partition, floored at 8,
        # never above the deployment default — at real n the formula
        # returns the default. The swap is safe because the write
        # executes the whole build inside it.
        n = _base(spark, sf_dir).count()
        with scoped_shuffle_width(spark, sized_width(spark, n * NND_K * NND_K)):
            NND_BUILD_COUNT += 1
            _nnd_graph_build(spark, sf_dir, n).write.parquet(os.path.join(d, "graph"))
        with open(os.path.join(d, "n_vectors"), "w") as fh:
            fh.write(str(n))

    idx_dir = ensure_fixture(
        spark,
        "nnd_index",
        sf_dir,
        "embeddings.parquet",
        f"k={NND_K},it={NND_ITERS},v{NND_INDEX_FORMAT}",
        stage,
    )
    with open(os.path.join(idx_dir, "n_vectors")) as fh:
        n = int(fh.read())
    graph = spark.read.parquet(os.path.join(idx_dir, "graph")).localCheckpoint(eager=True)
    return graph, n


def _nnd_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized shared graph (see ``_nnd_graph_and_n``)."""
    return _nnd_graph_and_n(spark, sf_dir)[0]


def _nnd_graph_build(spark: SparkSession, sf_dir: str, n: int | None = None) -> DataFrame:
    """The NN-Descent build plan (see ``ann_nndescent_graph``)."""
    base = _base(spark, sf_dir)
    unit = base.select(
        "vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    )
    if n is None:
        n = unit.count()

    # md5 init: K pseudo-random candidate ids per node
    j_col = F.explode(F.array(*[F.lit(j) for j in range(NND_K)])).alias("j")
    cand0 = (
        unit.select(F.col("vec_id").alias("a"), j_col)
        .select(
            "a",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("nnd"), F.col("a"), F.lit("_"), F.col("j"))), 1, 15),
                    16,
                    10,
                ).cast("long")
                % n
            ).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    ua = unit.select(F.col("vec_id").alias("a"), F.col("u").alias("ua"))
    ub = unit.select(F.col("vec_id").alias("b"), F.col("u").alias("ub"))

    def top_k(cand: DataFrame) -> DataFrame:
        scored = (
            cand.join(ua, "a").join(ub, "b")
            .select("a", "b", _nnd_cos("ua", "ub").alias("cosine"))
        )
        w = W.partitionBy("a").orderBy(F.desc("cosine"), "b")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= NND_K)
            .select("a", "b", "cosine", "rank")
        )

    nn = top_k(cand0)
    for _ in range(NND_ITERS):
        edges = nn.select("a", "b")
        und = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        two_hop = (
            und.alias("x")
            .join(und.alias("y"), F.col("x.b") == F.col("y.a"))
            .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        nn = top_k(edges.union(two_hop).distinct())
    return nn


def ann_nndescent_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN via NN-DESCENT (Dong et al., WWW'11 — the
    distributed-friendly relative of HNSW, whose sequential insertion
    loop does not shard): every node keeps its K best neighbors;
    each round the candidate pool is its current neighbors plus
    neighbors-of-neighbors over the UNDIRECTED current graph, scored
    by exact cosine, keeping the top K. Converges in a few rounds
    because a neighbor's neighbor is likely a neighbor.

    Hash-gated end to end, which is rare for an iterative algorithm:
    the initial neighbor lists are md5-derived (both engines replay
    them), every round is a pure join/score/top-k function of the
    previous round with engine-stable rounding, and the oracle
    UNROLLS the fixed iteration count into chained SQL CTEs.

    Scale: each round shuffles O(n·K²) candidate edges keyed by
    node — no all-pairs stage anywhere; the scored joins broadcast
    nothing bigger than the vector table's join keys. The output is
    the k-NN GRAPH itself (the index a query-time beam search walks,
    shared via ``_nnd_graph`` so build and search pay one build);
    recall vs brute force is pinned in tests."""
    return _nnd_graph(spark, sf_dir).select(
        F.col("a").alias("vec_id"), F.col("b").alias("nbr_id"), "cosine", "rank"
    ).orderBy("vec_id", "rank")


def _nndescent_oracle_sql() -> str:
    """Unrolled NN-Descent in DuckDB CTEs — init, then NND_ITERS
    rounds of (undirected ∪ two-hop) → score → top-K."""
    prelude = f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), unit AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM base
), nvec AS MATERIALIZED (
  SELECT count(*) AS n FROM unit
), cand0 AS MATERIALIZED (
  SELECT DISTINCT un.vec_id AS a,
         ('0x' || substr(md5('nnd' || un.vec_id || '_' || j.j), 1, 15))::BIGINT % nvec.n AS b
  FROM unit un CROSS JOIN nvec
  CROSS JOIN (SELECT unnest(generate_series(0, {NND_K - 1})) AS j) j
  WHERE ('0x' || substr(md5('nnd' || un.vec_id || '_' || j.j), 1, 15))::BIGINT % nvec.n <> un.vec_id
), nn0 AS MATERIALIZED (
  SELECT a, b, cosine, rank FROM (
    SELECT c.a, c.b,
           round(list_sum(list_transform(list_zip(x.u, y.u), p -> p[1] * p[2])), 4) AS cosine,
           row_number() OVER (PARTITION BY c.a ORDER BY
             round(list_sum(list_transform(list_zip(x.u, y.u), p -> p[1] * p[2])), 4) DESC, c.b) AS rank
    FROM cand0 c JOIN unit x ON c.a = x.vec_id JOIN unit y ON c.b = y.vec_id
  ) WHERE rank <= {NND_K}
)"""
    rounds = []
    for i in range(NND_ITERS):
        prev, cur = f"nn{i}", f"nn{i + 1}"
        rounds.append(f""", und{i} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  UNION
  SELECT b AS a, a AS b FROM {prev}
), cand{i + 1} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  UNION
  SELECT x.a, y.b FROM und{i} x JOIN und{i} y ON x.b = y.a WHERE x.a <> y.b
), {cur} AS MATERIALIZED (
  SELECT a, b, cosine, rank FROM (
    SELECT c.a, c.b,
           round(list_sum(list_transform(list_zip(x.u, y.u), p -> p[1] * p[2])), 4) AS cosine,
           row_number() OVER (PARTITION BY c.a ORDER BY
             round(list_sum(list_transform(list_zip(x.u, y.u), p -> p[1] * p[2])), 4) DESC, c.b) AS rank
    FROM cand{i + 1} c JOIN unit x ON c.a = x.vec_id JOIN unit y ON c.b = y.vec_id
  ) WHERE rank <= {NND_K}
)""")
    return (
        prelude
        + "".join(rounds)
        + f"""
SELECT a AS vec_id, b AS nbr_id, cosine, rank
FROM nn{NND_ITERS} ORDER BY vec_id, rank"""
    )


ANN_NNDESCENT_SQL = _nndescent_oracle_sql()

GS_BEAM = 8        # beam width
GS_HOPS = 3        # unrolled greedy hops
GS_ENTRIES = 4     # md5-derived entry points per query
GS_QUERY_IDS = tuple(range(0, 1000, 50))  # bounded explicit query set


def ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-search QUERY over the NN-Descent graph — the other half
    of graph ANN (``ann_nndescent_graph`` builds the index; this
    walks it): start each query at ``GS_ENTRIES`` md5-derived entry
    nodes, then for ``GS_HOPS`` rounds expand the beam with the
    graph neighbors of its members, score by exact cosine, keep the
    best ``GS_BEAM``. Output: top-5 per query. Everything — graph,
    entries, hop expansion, rounding, ties — is deterministic, so
    even the SEARCH over an iteratively-built index is hash-gated
    (the oracle chains the graph CTEs with unrolled hop CTEs).

    Scale: the graph is materialized once (an ANN index IS a
    materialized artifact — O(n·K) edges); each hop joins the
    bounded beam (q·B rows, broadcast) against the edge list — the
    data side never reshuffles; query cost is O(hops·B·K) score
    evaluations per query, independent of n."""
    base = _base(spark, sf_dir)
    unit = base.select(
        "vec_id", F.transform("v", lambda x: x / F.col("nrm")).alias("u")
    )
    # the shared materialized index (one build per session+sf_dir,
    # however many of the two graph faces run) and the vector count
    # it was built over — no second full scan just for n
    shared_graph, n = _nnd_graph_and_n(spark, sf_dir)
    graph = shared_graph.select(
        F.col("a").alias("vec_id"), F.col("b").alias("nbr_id")
    )
    uq = unit.select(F.col("vec_id").alias("q_id"), F.col("u").alias("qu"))
    uc = unit.select(F.col("vec_id").alias("c"), F.col("u").alias("cu"))
    queries = uq.filter(F.col("q_id").isin(*GS_QUERY_IDS))

    j_col = F.explode(F.array(*[F.lit(j) for j in range(GS_ENTRIES)])).alias("j")
    md5_entries = (
        queries.select("q_id", j_col)
        .select(
            "q_id",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("gs"), F.col("q_id"), F.lit("_"), F.col("j"))), 1, 15),
                    16,
                    10,
                ).cast("long")
                % n
            ).alias("c"),
        )
    )
    # IVF-ROUTED entries (r11): on a clustered corpus the NND graph
    # has few cross-cluster links, so a beam seeded only by md5-
    # random nodes reaches the query's cluster with probability
    # ~1-(1-1/k)^GS_ENTRIES (measured recall 0.36 on a 10-blob
    # mixture vs 0.54 isotropic). Route each query to the MIN-ID
    # member of its N_PROBE nearest md5-quantizer cells — the same
    # deterministic coarse quantizer the IVF family replays in SQL —
    # so at least one entry starts inside the query's region at any
    # cluster count. IVF-routed + random entries is the standard
    # hybrid (ScaNN / IVF-HNSW shape); everything stays hash-gated.
    n_lists = _n_ivf_lists(n)
    ranked_all = _centroid_rank_expr("v", n_lists)
    assigned = base.select("vec_id", ranked_all[0]["j"].alias("list_id"))
    reps = assigned.groupBy("list_id").agg(F.min("vec_id").alias("c"))
    q_probe = base.filter(F.col("vec_id").isin(*GS_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"),
        F.explode(F.transform(F.slice(ranked_all, 1, N_PROBE), lambda s: s["j"])).alias(
            "list_id"
        ),
    )
    routed = q_probe.join(F.broadcast(reps), "list_id").select("q_id", "c")
    beam = (
        md5_entries.union(routed)
        .filter(F.col("q_id") != F.col("c"))
        .distinct()
    )

    def top_b(cand: DataFrame, b: int) -> DataFrame:
        # the beam/candidate side is provably bounded (≤ q·B·(K+1)
        # rows) — BROADCAST it into the n-sized unit-vector join so
        # the data side never reshuffles, at any n
        scored = (
            F.broadcast(cand.join(F.broadcast(queries), "q_id"))
            .join(uc, "c")
            .select("q_id", "c", _nnd_cos("qu", "cu").alias("cosine"))
        )
        w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c")
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= b)
            .select("q_id", "c", "cosine", "rank")
        )

    def run_search(beam: DataFrame) -> DataFrame:
        # checkpoint each hop: the hop recurrence references the
        # previous beam TWICE (kept members ∪ their graph neighbors),
        # so a fully lazy unroll duplicates the prior subtree per hop
        # — Catalyst analysis and the broadcast builds grow
        # geometrically with GS_HOPS (same lineage lesson as
        # connected_components). Eager per-hop truncation makes each
        # hop one bounded job over ≤ q·B·(K+1) rows; values unchanged
        # (measured 4.4 → 2.7 s warm at sf0.1, hash re-gated).
        beam = top_b(beam, GS_BEAM).localCheckpoint(eager=True)
        for _ in range(GS_HOPS):
            nbrs = (
                beam.select("q_id", F.col("c").alias("vec_id"))
                .join(graph, "vec_id")
                .select("q_id", F.col("nbr_id").alias("c"))
            )
            cand = (
                beam.select("q_id", "c")
                .union(nbrs)
                .filter(F.col("q_id") != F.col("c"))
                .distinct()
            )
            beam = top_b(cand, GS_BEAM).localCheckpoint(eager=True)
        return (
            beam.filter(F.col("rank") <= TOP_K)
            .select("q_id", F.col("c").alias("vec_id"), "cosine", "rank")
            .orderBy("q_id", "rank")
        )

    # every shuffle in the search moves bounded beam-sized frames
    # (the n-sized side is broadcast-joined above), so a narrow
    # shuffle width is scale-correct — execute eagerly inside the
    # swap; the result is ≤ |queries|·TOP_K rows
    with scoped_shuffle_width(spark, min(shuffle_width(spark), 8)):
        return run_search(beam).localCheckpoint(eager=True)


def _graph_search_oracle_sql(n_lists: int = N_IVF_LISTS) -> str:
    """Graph CTEs (shared with the nndescent oracle) + the IVF-routed
    entry CTEs (r11 — same md5 quantizer as the IVF family, guarded
    by the same two-regime domain pin) + unrolled beam hops."""
    graph_part = _nndescent_oracle_sql().rsplit("\nSELECT a AS vec_id", 1)[0]
    cent_rows = ", ".join(
        "(" + str(j) + ", [" + ",".join(repr(x) for x in _ivf_centroid(j)) + "])"
        for j in range(n_lists)
    )
    big = _n_ivf_lists(IVF_SMALL_N + 1)
    hops = [f""", gsguard AS (
  SELECT CASE WHEN (CASE WHEN count(*) <= {IVF_SMALL_N} THEN {N_IVF_LISTS} ELSE {big} END) <> {n_lists} THEN error(
    'corpus size is outside this graph-search oracle entry-routing domain: rebuild with the matching n_lists')
  ELSE 1 END AS ok FROM embeddings
), gscent(j, cv) AS (VALUES {cent_rows}),
gsdist AS MATERIALIZED (
  SELECT vec_id, j,
         row_number() OVER (PARTITION BY vec_id ORDER BY
           list_sum(list_transform(list_zip(v, cv), p -> (p[1] - p[2]) * (p[1] - p[2]))), j) AS rk
  FROM base CROSS JOIN gscent
  WHERE (SELECT ok FROM gsguard) = 1
), gsrep AS MATERIALIZED (
  SELECT j, min(vec_id) AS c FROM gsdist WHERE rk = 1 GROUP BY j
), gq AS MATERIALIZED (
  SELECT vec_id AS q_id, u AS qu FROM unit WHERE vec_id IN {GS_QUERY_IDS}
), beam0 AS MATERIALIZED (
  SELECT q_id, c, cosine, rank FROM (
    SELECT e.q_id, e.c,
           round(list_sum(list_transform(list_zip(g.qu, y.u), p -> p[1] * p[2])), 4) AS cosine,
           row_number() OVER (PARTITION BY e.q_id ORDER BY
             round(list_sum(list_transform(list_zip(g.qu, y.u), p -> p[1] * p[2])), 4) DESC, e.c) AS rank
    FROM (
      SELECT DISTINCT q_id, c FROM (
        SELECT gq.q_id,
               ('0x' || substr(md5('gs' || gq.q_id || '_' || j.j), 1, 15))::BIGINT % nvec.n AS c
        FROM gq CROSS JOIN nvec
        CROSS JOIN (SELECT unnest(generate_series(0, {GS_ENTRIES - 1})) AS j) j
        UNION ALL
        SELECT d.vec_id AS q_id, r.c
        FROM gsdist d JOIN gsrep r ON r.j = d.j
        WHERE d.vec_id IN {GS_QUERY_IDS} AND d.rk <= {N_PROBE}
      ) WHERE q_id <> c
    ) e JOIN gq g ON e.q_id = g.q_id JOIN unit y ON e.c = y.vec_id
  ) WHERE rank <= {GS_BEAM}
)"""]
    for h in range(GS_HOPS):
        prev, cur = f"beam{h}", f"beam{h + 1}"
        hops.append(f""", candh{h + 1} AS MATERIALIZED (
  SELECT q_id, c FROM {prev}
  UNION
  SELECT p.q_id, g.b AS c FROM {prev} p JOIN nn{NND_ITERS} g ON p.c = g.a
), {cur} AS MATERIALIZED (
  SELECT q_id, c, cosine, rank FROM (
    SELECT cd.q_id, cd.c,
           round(list_sum(list_transform(list_zip(g.qu, y.u), p -> p[1] * p[2])), 4) AS cosine,
           row_number() OVER (PARTITION BY cd.q_id ORDER BY
             round(list_sum(list_transform(list_zip(g.qu, y.u), p -> p[1] * p[2])), 4) DESC, cd.c) AS rank
    FROM (SELECT q_id, c FROM candh{h + 1} WHERE q_id <> c) cd
    JOIN gq g ON cd.q_id = g.q_id JOIN unit y ON cd.c = y.vec_id
  ) WHERE rank <= {GS_BEAM}
)""")
    return (
        graph_part
        + "".join(hops)
        + f"""
SELECT q_id, c AS vec_id, cosine, rank
FROM beam{GS_HOPS} WHERE rank <= {TOP_K} ORDER BY q_id, rank"""
    )


ANN_GRAPH_SEARCH_SQL = _graph_search_oracle_sql()


# ------------------------------------------------ contrastive mining

# Training-set construction for embedding models (the op downstream
# of ANN in an LLM-data pipeline): for each bounded anchor, mine one
# POSITIVE (exact-cosine nearest neighbor), N_HARD hard negatives
# (related-but-not-near: cosine ranks HARD_LO..HARD_LO+N_HARD-1),
# and N_RANDNEG pseudo-random negatives (portable-md5-ranked among
# the remaining corpus — deterministic, SQL-replayable, and disjoint
# from the positive/hard slices by the rank predicate).
N_HARD = 3
HARD_LO = 50       # first hard-negative cosine rank
N_RANDNEG = 3


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor/positive/negative mining for contrastive training.

    Plan: the exact per-anchor cosine ranking (bounded broadcast
    query side — the ann_bruteforce shape; swap the IVF probe in for
    the 100 TB corpus where exact ranking is the eval-only path),
    sliced into the positive (rank 1) and hard-negative band, plus a
    second portable-md5 ranking over the far remainder for the
    random negatives. Output (q_id, vec_id, role, cosine,
    pair_rank) — one training tuple group per anchor."""
    base = _base(spark, sf_dir)
    queries = _bounded_query_filter(base).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_v"), F.col("nrm").alias("q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = base.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    ranked = scored.withColumn("crank", F.row_number().over(w))
    near = ranked.filter(F.col("crank") < HARD_LO + N_HARD).select(
        "q_id",
        "vec_id",
        "cosine",
        F.when(F.col("crank") == 1, F.lit("positive"))
        .when(F.col("crank") >= HARD_LO, F.lit("hard_negative"))
        .otherwise(F.lit(None))
        .alias("role"),
        F.when(F.col("crank") == 1, F.lit(1))
        .otherwise(F.col("crank") - HARD_LO + 1)
        .cast("int")
        .alias("pair_rank"),
    ).filter(F.col("role").isNotNull())
    # random negatives: md5-ranked over the far remainder (crank
    # beyond the hard band) — deterministic, disjoint by predicate
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("q_id").cast("string"), F.lit(":"), F.col("vec_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    far = ranked.filter(F.col("crank") >= HARD_LO + N_HARD).select(
        "q_id", "vec_id", "cosine", h.alias("h")
    )
    wr = W.partitionBy("q_id").orderBy("h", "vec_id")
    rand = (
        far.withColumn("rrank", F.row_number().over(wr))
        .filter(F.col("rrank") <= N_RANDNEG)
        .select(
            "q_id",
            "vec_id",
            "cosine",
            F.lit("random_negative").alias("role"),
            F.col("rrank").cast("int").alias("pair_rank"),
        )
    )
    return near.unionByName(rand).orderBy("q_id", "role", "pair_rank")


CONTRASTIVE_PAIRS_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm FROM base
  WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX}
), ranked AS MATERIALIZED (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS crank
  FROM (
    SELECT q.q_id, b.vec_id,
           round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2])) / (b.nrm * q.q_nrm), 4) AS cosine
    FROM base b CROSS JOIN queries q
    WHERE b.vec_id <> q.q_id
  )
), near AS (
  SELECT q_id, vec_id, cosine,
         CASE WHEN crank = 1 THEN 'positive' ELSE 'hard_negative' END AS role,
         CAST(CASE WHEN crank = 1 THEN 1 ELSE crank - {HARD_LO} + 1 END AS INT) AS pair_rank
  FROM ranked
  WHERE crank = 1 OR (crank >= {HARD_LO} AND crank < {HARD_LO + N_HARD})
), rand AS (
  SELECT q_id, vec_id, cosine, 'random_negative' AS role, CAST(rrank AS INT) AS pair_rank
  FROM (
    SELECT q_id, vec_id, cosine,
           row_number() OVER (PARTITION BY q_id ORDER BY
             ('0x' || substr(md5(q_id || ':' || vec_id), 1, 15))::BIGINT, vec_id) AS rrank
    FROM ranked WHERE crank >= {HARD_LO + N_HARD}
  ) WHERE rrank <= {N_RANDNEG}
)
SELECT q_id, vec_id, role, cosine, pair_rank FROM (
  SELECT * FROM near UNION ALL SELECT * FROM rand
) ORDER BY q_id, role, pair_rank
"""


# --------------------------------------------- truncated-dim eval

# Matryoshka-style dimension-truncation audit: how much top-k
# retrieval quality survives scoring on the first TRUNC_EVAL_DIMS
# dims instead of all 64 — the measurement behind shipping truncated
# embeddings (or a truncated first stage, cf. ann_ivf_rerank) at a
# fraction of the storage/FLOPs.
TRUNC_EVAL_DIMS = 16


def emb_truncate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval-quality retention under dimension
    truncation: exact cosine top-{k} on the FULL vectors (reference)
    vs exact cosine top-{k} on the first {td} dims (candidate
    system). Emits (q_id, n_hits, recall_at_k, mrr) — integer-rank
    rationals, the family's eval contract (ann_recall_eval's shape,
    with dimension truncation as the approximation under test
    instead of an index structure).

    Plan: ONE corpus scan serves both rankings (full + truncated
    norms and dots computed from the same broadcast-joined frame);
    two salted-free per-query windows over the bounded query set."""
    base = _base(spark, sf_dir)
    # floor the truncated norm: a vector whose first TRUNC_EVAL_DIMS
    # dims are all zero would otherwise divide by 0.0, and NULL/NaN
    # ordering is NOT cross-engine stable (ADVICE r13). The floor is
    # mirrored verbatim in EMB_TRUNCATE_EVAL_SQL.
    tnrm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.slice("v", 1, TRUNC_EVAL_DIMS), F.lit(0.0), lambda a, x: a + x * x
            )
        ),
        F.lit(1e-12),
    )
    both = base.select("vec_id", "v", "nrm", tnrm.alias("tnrm"))
    queries = _bounded_query_filter(both).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
        F.col("tnrm").alias("q_tnrm"),
    )
    dot = F.aggregate(
        F.zip_with("v", "q_v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    tdot = F.aggregate(
        F.zip_with(
            F.slice("v", 1, TRUNC_EVAL_DIMS),
            F.slice("q_v", 1, TRUNC_EVAL_DIMS),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = both.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        F.round(dot / (F.col("nrm") * F.col("q_nrm")), 4).alias("cosine"),
        F.round(tdot / (F.col("tnrm") * F.col("q_tnrm")), 4).alias("tcosine"),
    )
    wf = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    wt = W.partitionBy("q_id").orderBy(F.desc("tcosine"), "vec_id")
    full_k = (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id")
    )
    trunc_k = (
        scored.withColumn("rank", F.row_number().over(wt))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.col("rank").alias("r_trunc"))
    )
    hits = trunc_k.join(full_k, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits"), F.min("r_trunc").alias("first_rel")
    )
    spine = queries.select("q_id").distinct()
    return (
        spine.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(TOP_K)), 4
            ).alias("recall_at_k"),
            F.round(F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6).alias(
                "mrr"
            ),
        )
        .orderBy("q_id")
    )


EMB_TRUNCATE_EVAL_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         greatest(sqrt(list_sum(list_transform(embedding[1:{TRUNC_EVAL_DIMS}],
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-12) AS tnrm
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS q_v, nrm AS q_nrm, tnrm AS q_tnrm FROM base
  WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {QUERY_MOD * ANN_Q_MAX}
), scored AS MATERIALIZED (
  SELECT q.q_id, b.vec_id,
         round(list_sum(list_transform(list_zip(b.v, q.q_v), p -> p[1] * p[2]))
               / (b.nrm * q.q_nrm), 4) AS cosine,
         round(list_sum(list_transform(list_zip(b.v[1:{TRUNC_EVAL_DIMS}], q.q_v[1:{TRUNC_EVAL_DIMS}]),
               p -> p[1] * p[2])) / (b.tnrm * q.q_tnrm), 4) AS tcosine
  FROM base b CROSS JOIN queries q
  WHERE b.vec_id <> q.q_id
), full_k AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {TOP_K}
), trunc_k AS (
  SELECT q_id, vec_id, rank AS r_trunc FROM (
    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY tcosine DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {TOP_K}
), hits AS (
  SELECT t.q_id, count(*) AS n_hits, min(t.r_trunc) AS first_rel
  FROM trunc_k t JOIN full_k f ON t.q_id = f.q_id AND t.vec_id = f.vec_id
  GROUP BY t.q_id
), spine AS (SELECT DISTINCT q_id FROM queries)
SELECT s.q_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / {float(TOP_K)}, 4) AS recall_at_k,
       round(coalesce(1.0 / h.first_rel, 0.0), 6) AS mrr
FROM spine s LEFT JOIN hits h USING (q_id)
ORDER BY s.q_id
"""


QUERIES = {
    "contrastive_pairs": contrastive_pairs,
    "emb_truncate_eval": emb_truncate_eval,
    "ann_bruteforce": ann_bruteforce,
    "ann_lsh": ann_lsh,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_ivf": ann_ivf,
    "ann_ivf_partitioned": ann_ivf_partitioned,
    "ann_ivf_rerank": ann_ivf_rerank,
    "ann_pq": ann_pq,
    "ann_ivfpq": ann_ivfpq,
    "ann_nndescent_graph": ann_nndescent_graph,
    "ann_graph_search": ann_graph_search,
    "knn_classify_eval": knn_classify_eval,
    "ann_recall_eval": ann_recall_eval,
    "ann_recall_curve": ann_recall_curve,
}

ORACLES = {
    "contrastive_pairs": CONTRASTIVE_PAIRS_SQL,
    "emb_truncate_eval": EMB_TRUNCATE_EVAL_SQL,
    "ann_bruteforce": ANN_BRUTEFORCE_SQL,
    "ann_lsh": ANN_LSH_SQL,
    "ann_lsh_multiprobe": ANN_LSH_MULTIPROBE_SQL,
    "ann_ivf": ANN_IVF_SQL,
    "ann_ivf_partitioned": ANN_IVF_PARTITIONED_SQL,
    "ann_ivf_rerank": ANN_IVF_RERANK_SQL,
    "ann_pq": ANN_PQ_SQL,
    "ann_ivfpq": ANN_IVFPQ_SQL,
    "ann_nndescent_graph": ANN_NNDESCENT_SQL,
    "ann_graph_search": ANN_GRAPH_SEARCH_SQL,
    "ann_recall_eval": ANN_RECALL_EVAL_SQL,
    "ann_recall_curve": ANN_RECALL_CURVE_SQL,
    "knn_classify_eval": KNN_CLASSIFY_EVAL_SQL,
}
