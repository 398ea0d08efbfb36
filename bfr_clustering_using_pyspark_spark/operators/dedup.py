"""Deduplication operators over the documents/embeddings tables.

Scale design: no operator materializes O(n²) pairs. SQL-checkable
variants bound candidate pairs by *blocking keys* (token-set hash,
length bucket, simhash bucket); the production near-dup path is
MinHash+LSH (``dedup_minhash_lsh``) whose candidate count is bounded
by band-bucket collisions — the standard web-scale recipe.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.cache import SessionCache
from ..functions.tuning import scoped_shuffle_width, shuffle_width, sized_width
from ..sources.readers import load_table

TOKEN_RE = "[a-z0-9]+"


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def _tokset_key(col):
    """Canonical token-SET hash (order/multiplicity-insensitive)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(_tokens(col))), " "))



def _spread(df: DataFrame, key: str) -> DataFrame:
    """Spread an under-partitioned scan before expensive-per-row
    work: under BroadcastHashJoin, stage parallelism equals the
    PROBE side's partition count — and a single-file table scan is
    ONE partition, serializing every per-pair levenshtein /
    array_intersect on one core. Conditional so a well-partitioned
    scan (any real corpus — many files) skips the extra shuffle:
    the guard only fires when the layout under-parallelizes."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min(par, 8):
        return df
    return df.repartition(par, key)

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + canonical dedup: per doc, whether it is a duplicate
    (a doc with smaller id shares the key) under (a) raw text hash,
    (b) normalized token-stream hash, (c) token-set hash.

    One hash-shuffle per key kind; keep-smallest-id via min() window.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("k_exact"),
        F.md5(F.array_join(_tokens(F.col("text")), " ")).alias("k_canon"),
        _tokset_key(F.col("text")).alias("k_tokset"),
    )
    out = keyed
    for k in ("k_exact", "k_canon", "k_tokset"):
        out = out.withColumn(
            f"dup_{k[2:]}",
            (F.col("doc_id") > F.min("doc_id").over(W.partitionBy(k))).cast("int"),
        )
    return out.select("doc_id", "dup_exact", "dup_canon", "dup_tokset").orderBy("doc_id")


DEDUP_EXACT_SQL = """
WITH keyed AS (
  SELECT doc_id,
         sha256(text) AS k_exact,
         md5(coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '')) AS k_canon,
         md5(coalesce(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' '), '')) AS k_tokset
  FROM documents
)
SELECT doc_id,
       CAST(doc_id > min(doc_id) OVER (PARTITION BY k_exact) AS INT) AS dup_exact,
       CAST(doc_id > min(doc_id) OVER (PARTITION BY k_canon) AS INT) AS dup_canon,
       CAST(doc_id > min(doc_id) OVER (PARTITION BY k_tokset) AS INT) AS dup_tokset
FROM keyed ORDER BY doc_id
"""


def _shingles_expr():
    """Word-trigram shingles from the token array (both engines build
    the same strings; Spark [] is 0-based, DuckDB [] is 1-based)."""
    return F.expr(
        "array_distinct(transform(sequence(0, size(toks) - 3), "
        "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
    )


# Hot-block star cap (duplicate-dense corpora), replayed EXACTLY by
# the SQL oracle — same rule as EMB_BUCKET_CAP: a (len_bucket,
# minsh) block above the cap is a near-identical clique; emit star
# pairs only, preserving connectivity while bounding per-block work.
NGRAM_BLOCK_CAP = 256


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs (J ≥ 0.8).

    Candidates are blocked on (length bucket, min-hash shingle): the
    minimum md5-hash over a doc's shingle set is a 1-permutation
    MinHash, so two docs with true Jaccard J share the block with
    probability J (≥ 0.8 at our threshold — measured 23/24 pairs
    retained on testdata vs unblocked). Bucket size is bounded by the
    frequency of a single shingle value, independent of corpus size —
    no O(n²) blow-up within a length bucket at 100 TB — and, on
    duplicate-dense shards, by ``NGRAM_BLOCK_CAP`` (star rule,
    oracle-replayed).
    """
    # spread the SCAN (single parquet file = one partition), so the
    # shingle/min-hash build itself parallelizes on both join sides,
    # not just the per-pair work after the exchange
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wb = W.partitionBy("len_bucket", "minsh")
    base = (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"), F.col("n_chars"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            _shingles_expr().alias("shingles"),
            F.floor(F.col("n_chars") / 64).cast("int").alias("len_bucket"),
        )
        .withColumn(
            "minsh",
            F.expr(
                "array_min(transform(shingles,"
                " s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)))"
            ),
        )
        .withColumn("bsz", F.count("*").over(wb))
        .withColumn("bmin", F.min("doc_id").over(wb))
    )
    # PIN the built table before self-joining: without it Catalyst
    # pushes the join keys' isnotnull predicates BELOW the exchange
    # and re-derives the whole regexp->shingle->md5 pipeline per
    # predicate per row on the unspread scan side (measured 3x the
    # build cost on one core); the checkpoint materializes the build
    # exactly once, at full width
    base = base.localCheckpoint(eager=True)
    a = base.alias("a")
    b = base.alias("b")
    # hot-block star rule: left-side-only, pushes below the join
    star_gate = (F.col("a.bsz") <= NGRAM_BLOCK_CAP) | (
        F.col("a.doc_id") == F.col("a.bmin")
    )
    pairs = a.join(
        b,
        (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col("a.minsh") == F.col("b.minsh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & star_gate,
    )
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # scale-0 round at 1e-4 units: round(x, 4) tie-handling
            # differs across engines for non-dyadic int ratios
            (F.round(inter / union * 10000.0).cast("long") / 10000.0).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         CAST(floor(n_chars / 64) AS INT) AS len_bucket
  FROM documents
), sh AS (
  SELECT doc_id, len_bucket,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in generate_series(1, len(toks) - 2)]) AS shingles
  FROM t WHERE len(toks) >= 3
), blk0 AS (
  SELECT *, list_min(list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS minsh
  FROM sh
), blk AS (
  -- hot-block star rule, replayed exactly (see NGRAM_BLOCK_CAP)
  SELECT *,
         count(*) OVER (PARTITION BY len_bucket, minsh) AS bsz,
         min(doc_id) OVER (PARTITION BY len_bucket, minsh) AS bmin
  FROM blk0
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(round(len(list_intersect(a.shingles, b.shingles)) * 1e0 /
               (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
               * 1e4) AS BIGINT) / 1e4 AS jaccard
  FROM blk a JOIN blk b ON a.len_bucket = b.len_bucket AND a.minsh = b.minsh AND a.doc_id < b.doc_id
   AND (a.bsz <= {NGRAM_BLOCK_CAP} OR a.doc_id = a.bmin)
)
WHERE jaccard >= 0.8  -- filter the ROUNDED value, matching the Spark plan
ORDER BY doc_a, doc_b
"""

N_SIMHASH_BITS = 16


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) signatures: per-token md5-derived 60-bit
    hash → per-bit majority vote → 16-bit signature. One explode +
    one map-side-combinable groupBy. Shared by ``dedup_simhash`` and
    the cascade stage in ``dedup_cascade``."""
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(N_SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token md5-derived 60-bit hash → per-bit majority
    vote → 16-bit signature. Docs sharing a signature are near-dup
    candidates. One explode + one groupBy (map-side combinable)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = _simhash_sigs(docs)
    w = W.partitionBy("simhash")
    return sigs.select(
        "doc_id",
        "simhash",
        (F.count("*").over(w) > 1).cast("int").alias("in_candidate_bucket"),
    ).orderBy("doc_id")


_VOTE_SQL = ",\n".join(
    f"         sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(N_SIMHASH_BITS)
)
_SIG_SQL = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(N_SIMHASH_BITS))

DEDUP_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), votes AS (
  SELECT doc_id,
{_VOTE_SQL}
  FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT doc_id, CAST({_SIG_SQL} AS BIGINT) AS simhash FROM votes
)
SELECT doc_id, simhash,
       CAST(count(*) OVER (PARTITION BY simhash) > 1 AS INT) AS in_candidate_bucket
FROM sigs ORDER BY doc_id
"""




def _sign_bits(n: int) -> int:
    """Data-adaptive sign-LSH width: enough bits that the expected
    bucket holds ~TARGET_BUCKET vectors, floored at the historical 8
    (so every corpus up to 16384 vectors keeps the original blocking
    bit-for-bit) and capped at 24 (embeddings have 64 coords; 24 bits
    → 16M buckets covers any single-executor-digestible corpus).
    Candidate pairs stay ~n·TARGET_BUCKET/2 — LINEAR in n — where a
    fixed width degrades to n²/2^bits (measured 6× super-linear at a
    30× scale-up before this). The oracle computes the SAME formula
    from count(*)."""
    import math

    if n <= 0:
        return 8
    return min(24, max(8, math.ceil(math.log2(max(n, 1) / TARGET_BUCKET))))


TARGET_BUCKET = 64
# Hot-bucket cap (duplicate-dense corpora): a sign bucket is sized
# for E[TARGET_BUCKET] members under near-isotropic data, but a
# clique of identical embeddings all lands in ONE bucket — on a
# boilerplate-dense shard that's an O(clique²) self-join blowup.
# Buckets above the cap emit STAR pairs only (bucket-min ↔ member):
# connectivity — and therefore downstream component formation — is
# preserved, pairwise enumeration inside the hot bucket is not.
# The SQL oracle replays the identical rule, so the gate hash stays
# exact at ANY corpus size, cap fired or not.
EMB_BUCKET_CAP = 256


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.35 — the testdata has
    no tighter neighbors; real near-dup corpora would gate at ~0.95).

    Candidates are blocked on a cosine-LSH sign bucket (the sign
    pattern of the first ``_sign_bits(n)`` coordinates = axis-aligned
    random hyperplanes). The width grows with log(n) so the expected
    bucket size — and with it the per-vector candidate count — stays
    CONSTANT as the corpus grows; one metadata count() sizes it.
    zip_with/aggregate, JVM-side.

    Buckets above ``EMB_BUCKET_CAP`` (duplicate-dense shards) emit
    star pairs against the bucket's min vec_id instead of all pairs
    — see the cap constant's contract; the oracle replays the rule."""
    emb = _spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    bits = _sign_bits(emb.count())
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    blk = sum(
        F.when(F.col("v").getItem(i) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    wb = W.partitionBy("blk")
    base = (
        emb.select("vec_id", "v", norm.alias("nrm"), blk.cast("int").alias("blk"))
        .withColumn("bsz", F.count("*").over(wb))
        .withColumn("bmin", F.min("vec_id").over(wb))
    )
    # PIN the built table before self-joining: without it Catalyst
    # pushes the join key's isnotnull predicate BELOW the exchange
    # and re-evaluates this operator's build expressions — the
    # double-cast transform, the norm aggregate, and the bits-term
    # sign-block sum — per predicate per row on the unspread scan
    # side; the checkpoint materializes the build exactly once, at
    # full width
    base = base.localCheckpoint(eager=True)
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # hot-bucket star rule: references only the LEFT side, so Catalyst
    # pushes it below the join — a hot bucket's left side collapses to
    # its single representative row before any pair is formed
    star_gate = (F.col("a.bsz") <= EMB_BUCKET_CAP) | (
        F.col("a.vec_id") == F.col("a.bmin")
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & star_gate,
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
        .orderBy("vec_a", "vec_b")
    )


# adaptive-width sign block, mirroring _sign_bits(count(*)): bits
# beyond the computed width contribute 0, so one 24-term expression
# serves every corpus size
_SIGN_BLK_SQL = " + ".join(
    f"(CASE WHEN {i} < bits.b AND embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(24)
)

DEDUP_EMBEDDING_SQL = f"""
WITH bits AS (
  SELECT LEAST(24, GREATEST(8,
           CAST(ceil(log2(GREATEST(count(*), 1) / 64.0)) AS INT))) AS b
  FROM embeddings
), base0 AS (
  SELECT vec_id,
         CAST({_SIGN_BLK_SQL} AS INT) AS blk,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings, bits
), base AS (
  -- hot-bucket star rule, replayed exactly (see EMB_BUCKET_CAP)
  SELECT *,
         count(*) OVER (PARTITION BY blk) AS bsz,
         min(vec_id) OVER (PARTITION BY blk) AS bmin
  FROM base0
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) / (a.nrm * b.nrm), 4) AS cosine
  FROM base a JOIN base b ON a.blk = b.blk AND a.vec_id < b.vec_id
   AND (a.bsz <= {EMB_BUCKET_CAP} OR a.vec_id = a.bmin)
)
WHERE cosine >= 0.35  -- filter the ROUNDED value, matching the Spark plan
ORDER BY vec_a, vec_b
"""

# ---------------- MinHash + LSH (production near-dup path) ----------------

N_HASHES = 64
N_BANDS = 16  # 4 rows per band
# Mersenne-31 keeps a*x+b under 2^62 — no silent int64 overflow
_MERSENNE = (1 << 31) - 1
# Hot-bucket cap for the band-bucket self-join: a band bucket of m
# docs means m docs agree on an ENTIRE band (4 of 64 minhashes) — at
# m > LSH_BUCKET_CAP they are near-identical boilerplate w.h.p. (the
# 100k-replica web-crawl shard), and all-pairs enumeration is
# O(m²·bands) before any Jaccard check. Capped buckets emit STAR
# candidates only (bucket-min doc ↔ member): component connectivity
# — what downstream dedup_components consumes — is preserved; the
# pairwise LIST inside a hot clique is representative, not
# exhaustive. Contract: on corpora whose true dup cliques exceed the
# cap, the exhaustive-ground-truth oracle (which has no bucket
# notion) will list in-clique pairs this face intentionally omits —
# the cap is sized well above any gated corpus's real clique size
# (measured band-bucket max: 4 at sf0.1), so the gate stays exact
# where it runs; the duplicate-heavy scale probe exercises the
# capped regime.
LSH_BUCKET_CAP = 128
# Oracle-domain pin (r11, mirrors similarity.IVF_SMALL_N): corpora at
# or below this many docs are where the EXHAUSTIVE all-pairs oracle
# runs (gated SFs are 500-5000 docs). Inside the pin, a band bucket
# above LSH_BUCKET_CAP would silently flip the pair-list contract
# from complete to star-only and hash-mismatch the oracle
# indistinguishably from a real defect — so the build errors LOUDLY
# instead. Above the pin the star cap is the documented scale
# contract and no guard job runs.
LSH_ORACLE_N = 8192


def _minhash_params(seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, N_HASHES, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, N_HASHES, dtype=np.int64)
    return a, b


def _minhash_kernel(a: np.ndarray, b: np.ndarray):
    """mapInPandas: (doc_id, shingle_hashes) → band rows (doc_id,
    band, sig). Shingle hashing already happened JVM-side
    (xxhash64), so this kernel is pure vectorized NumPy."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows_per_band = N_HASHES // N_BANDS
        slab_cols = 65536  # keep the (64, N) work matrix in cache-friendly slabs
        for pdf in batches:
            lens = pdf["sh_hashes"].map(len).to_numpy()
            keep = lens > 0
            if not keep.any():
                continue
            doc_ids = pdf["doc_id"].to_numpy()[keep]
            lens = lens[keep]
            bounds = np.concatenate([[0], np.cumsum(lens)])
            hash_lists = list(pdf["sh_hashes"][keep])
            out_doc, out_band, out_sig = [], [], []
            j = 0
            while j < len(doc_ids):
                # take a slab of whole docs totalling <= slab_cols shingles
                j2 = j + 1
                while j2 < len(doc_ids) and bounds[j2 + 1] - bounds[j] <= slab_cols:
                    j2 += 1
                x = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in hash_lists[j:j2]]
                )
                x %= _MERSENNE
                hashed = a[:, None] * x[None, :]
                hashed += b[:, None]
                hashed %= _MERSENNE
                offsets = (bounds[j:j2] - bounds[j]).astype(np.int64)
                sigs = np.minimum.reduceat(hashed, offsets, axis=1)  # (k, slab_docs)
                nd = j2 - j
                # Mix each band's rows into ONE int64 signature
                # (vectorized over docs; wrap-around multiply is a
                # deterministic hash mix). A cross-band collision would
                # only add a candidate pair, which exact-Jaccard
                # verification filters out — correctness unaffected.
                per_band = sigs.reshape(N_BANDS, rows_per_band, nd).astype(np.uint64)
                mixed = per_band[:, 0, :].copy()
                with np.errstate(over="ignore"):
                    for r in range(1, rows_per_band):
                        mixed = mixed * np.uint64(0x100000001B3) ^ per_band[:, r, :]
                out_doc.append(np.tile(doc_ids[j:j2], N_BANDS))
                out_band.append(np.repeat(np.arange(N_BANDS, dtype=np.int32), nd))
                out_sig.append(mixed.ravel().astype(np.int64))
                j = j2
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_doc),
                    "band": np.concatenate(out_band),
                    "sig": np.concatenate(out_sig),
                }
            )

    return fn


# bump when the SIGNATURE BUILD changes (shingler, hash family,
# banding, the bsz/bmin bucket accounting): the on-disk digest must
# invalidate artifacts produced by older build code
MINHASH_STORE_FORMAT = 1

# incremented by the staging callback only — lets tests assert that a
# warehouse hit re-runs NO kernel (same contract as NND_BUILD_COUNT)
MINHASH_BUILD_COUNT = 0


def _minhash_bands(spark: SparkSession, sf_dir: str, base: DataFrame) -> DataFrame:
    """The banded signature store (doc_id, band, sig, bsz, bmin) as a
    WAREHOUSE ARTIFACT — a pure function of (documents.parquet,
    N_HASHES, N_BANDS), persisted once under the version/format-keyed
    fixture digest (sources/fixtures.py) and RELOADED by every later
    session and process: the tokenizer/shingler/NumPy kernel never
    re-runs for an unchanged corpus. This is how a production dedup
    deployment treats its signature table (built by the ingest job,
    read by everyone else); ``stream_components`` maintains the same
    store incrementally on the streaming path."""

    def stage(d: str) -> None:
        global MINHASH_BUILD_COUNT
        MINHASH_BUILD_COUNT += 1
        a_p, b_p = _minhash_params()
        hashed = base.select(
            "doc_id", F.expr("transform(shingles, s -> xxhash64(s))").alias("sh_hashes")
        )
        # the bucket-size window doubles as the store's physical
        # layout pass: signatures land grouped by (band, sig)
        wb = W.partitionBy("band", "sig")
        (
            hashed.mapInPandas(
                _minhash_kernel(a_p, b_p), schema="doc_id long, band int, sig long"
            )
            .withColumn("bsz", F.count("*").over(wb))
            .withColumn("bmin", F.min("doc_id").over(wb))
            .write.mode("overwrite")
            .parquet(d)
        )

    from ..sources.fixtures import ensure_fixture

    path = ensure_fixture(
        spark,
        "minhash_sigs",
        sf_dir,
        "documents.parquet",
        f"h={N_HASHES},b={N_BANDS},v{MINHASH_STORE_FORMAT}",
        stage,
    )
    return spark.read.parquet(path)


# Per-session cache of (shingle base, signature table): repeated
# queries over an unchanged corpus in one session (gate sweeps, bench
# loops, components composing pair-finding) must not re-tokenize or
# re-shingle. Doctrine in functions/cache.py.
_MINHASH_CACHE_MAX = 4
_MINHASH_SESSION_CACHE = SessionCache(_MINHASH_CACHE_MAX)


def _minhash_base_and_bands(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    return _MINHASH_SESSION_CACHE.get_or_build(
        spark,
        lambda: _minhash_base_and_bands_build(spark, sf_dir),
        f"{sf_dir}/documents.parquet",
    )


def _minhash_base_and_bands_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    # One parquet file = one input split — spread docs across all
    # cores before the Python kernel (at real scale the scan already
    # has many splits and AQE coalesces; locally this is the
    # difference between 1 and 32 kernel workers).
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    base = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", _shingles_expr().alias("shingles"))
    ).persist()  # reused: signature staging + both sides of the verify join
    bands = _minhash_bands(spark, sf_dir, base).persist()
    # Oracle-domain guard (see LSH_ORACLE_N): one agg over the
    # persisted signature table, run ONCE per cache entry. Raises if
    # a gated-size corpus would trip the star cap — the exhaustive
    # oracle cannot replay the cap, so tripping it silently would be
    # indistinguishable from a correctness defect.
    n_docs, max_bsz = bands.agg(
        (F.count("*") / N_BANDS).cast("long"), F.max("bsz")
    ).first()
    if n_docs is not None and n_docs <= LSH_ORACLE_N and (max_bsz or 0) > LSH_BUCKET_CAP:
        base.unpersist()
        bands.unpersist()
        raise RuntimeError(
            f"minhash band bucket of {max_bsz} docs exceeds LSH_BUCKET_CAP="
            f"{LSH_BUCKET_CAP} on an oracle-domain corpus ({n_docs} docs <= "
            f"LSH_ORACLE_N={LSH_ORACLE_N}): the pair list would silently "
            "degrade from complete to star-only and mismatch the exhaustive "
            "oracle. Raise LSH_BUCKET_CAP for this corpus or gate it above "
            "LSH_ORACLE_N."
        )
    return base, bands


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str, threshold: float = 0.7) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4): the web-scale near-dup path.

    shingle → minhash signature (Arrow pandas kernel; persisted as a
    warehouse artifact — see ``_minhash_bands``) → band explode →
    bucket self-join (shuffle keyed on (band, sig) — candidates only
    where bands collide) → exact Jaccard verification on candidates →
    pairs with J ≥ threshold.

    Oracle: the EXHAUSTIVE all-pairs Jaccard ≥ 0.7 set (small-SF
    ground truth — O(n²), oracle-only). Hash-matching it also proves
    the LSH stage achieved 100% recall on the gated data (expected:
    band-collision probability at J = 0.7 is 1-(1-0.7⁴)¹⁶ ≈ 0.986
    per pair, and observed pairs sit well above threshold).

    Duplicate-dense corpora: band buckets above ``LSH_BUCKET_CAP``
    emit star candidates only (see the cap constant's contract) —
    bounded work per bucket, connectivity preserved, in-clique pair
    enumeration intentionally sacrificed.
    """
    base, bands = _minhash_base_and_bands(spark, sf_dir)
    l, r = bands.alias("l"), bands.alias("r")
    # hot-bucket star rule (see LSH_BUCKET_CAP): references only the
    # LEFT side, so Catalyst pushes it below the join — a hot
    # bucket's left side collapses to its single representative row
    star_gate = (F.col("l.bsz") <= LSH_BUCKET_CAP) | (
        F.col("l.doc_id") == F.col("l.bmin")
    )
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & star_gate,
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = base.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.select(
            "doc_a",
            "doc_b",
            (F.round(inter / union * 10000.0).cast("long") / 10000.0).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: customer-name pairs within Levenshtein
    distance 3, blocked on the NAME PREFIX (all but the last 3 chars).

    Prefix blocking is the standard entity-resolution move: bucket
    membership is a property of the string itself, and bucket size is
    bounded by the suffix alphabet (≤10³ for digit suffixes) no
    matter how many entities exist — total pair work stays linear in
    n at 100 TB. Recall covers edits in the suffix; production
    resolution would union several blocking passes (prefix, phonetic,
    q-gram) the same way."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("substring(c_name, 1, greatest(length(c_name) - 3, 1))").alias("blk"),
    )
    # the build side broadcasts (customer names are small), so the
    # JOIN's parallelism is the probe side's partition count — a
    # single-file dim table would otherwise run every per-pair
    # levenshtein in ONE task. Spread the probe side across the
    # cluster before the expensive-per-row join output.
    a = _spread(cust, "c_custkey").alias("a")
    b = cust.alias("b")
    pairs = a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.c_custkey") < F.col("b.c_custkey"))
    )
    # thresholded levenshtein (Spark 3.5+): banded DP that early-exits
    # and returns -1 once the distance exceeds 3 — exact distances for
    # every pair that survives, ~2-3x fewer DP cells for the blocked
    # pairs that don't. The oracle computes the full distance and
    # filters <= 3: identical surviving (pair, distance) sets.
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 3)
    # compact histogram output: pair count + example pair per distance
    return (
        pairs.select(dist.alias("lev_dist"), F.col("a.c_custkey").alias("ka"), F.col("b.c_custkey").alias("kb"))
        .filter(F.col("lev_dist") >= 0)
        .groupBy("lev_dist")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("ka").alias("example_a"),
        )
        .orderBy("lev_dist")
    )


DEDUP_FUZZY_NAMES_SQL = """
SELECT levenshtein(a.c_name, b.c_name) AS lev_dist,
       count(*) AS n_pairs,
       min(a.c_custkey) AS example_a
FROM customer a JOIN customer b
  ON substr(a.c_name, 1, greatest(length(a.c_name) - 3, 1))
   = substr(b.c_name, 1, greatest(length(b.c_name) - 3, 1))
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 3
GROUP BY 1 ORDER BY lev_dist
"""


_MINHASH_PAIRS_CTE = """
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                for i in generate_series(1, len(toks) - 2)]) AS shingles
  FROM t WHERE len(toks) >= 3
), pairs AS MATERIALIZED (
  SELECT * FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(round(len(list_intersect(a.shingles, b.shingles)) * 1e0 /
                 (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
                 * 1e4) AS BIGINT) / 1e4 AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      -- lossless prune: J >= 0.7 requires |A|/|B| in [0.7, 1/0.7]
      AND len(a.shingles) * 10 >= len(b.shingles) * 7
      AND len(b.shingles) * 10 >= len(a.shingles) * 7
  )
  WHERE jaccard >= 0.7
)"""

DEDUP_MINHASH_LSH_SQL = f"""
WITH {_MINHASH_PAIRS_CTE}
SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
"""


def dedup_components(spark: SparkSession, sf_dir: str, threshold: float = 0.7) -> DataFrame:
    """Near-duplicate CLUSTER formation: connected components over the
    MinHash+LSH pair graph, so each duplicate group gets one
    canonical id (the min doc_id in the component) — the step a real
    dedup pipeline runs after pair-finding to pick one keeper per
    group.

    Min-label propagation: each round every node takes the min of
    its own and its neighbors' labels (one hash-join + groupBy per
    round, early-stop on convergence). Rounds needed = graph
    diameter; near-dup components are shallow (pairs ≥ 0.7 Jaccard
    are near-cliques). For deep/skewed graphs the O(log n)-round
    ``connected_components_star`` below is the drop-in scale path
    (equivalence-tested against propagation on chains, hubs, and
    random graphs). Oracle: DuckDB recursive-CTE transitive
    closure."""
    pairs = dedup_minhash_lsh(spark, sf_dir, threshold).select("doc_a", "doc_b")
    return connected_components(pairs)


# Below this many PAIR rows, connected components runs as a driver
# union-find: one bounded collect + one createDataFrame instead of
# 6-10 scheduled shuffle jobs (sym-union, label init, 2 jobs per
# propagation round). Same documented small-input-gate pattern as
# q_rfm_segmentation's SMALL_TOTAL: the distributed propagation is
# ALWAYS the path for real corpora; the gate only short-circuits
# graphs that provably fit in a few MB of driver memory (the edge
# count is known before the branch — counted or caller-supplied).
CC_SMALL_PAIRS = 100_000


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 16,
    width_floor: int = 8,
    sort: bool = True,
    edge_count: int | None = None,
    pinned: bool = False,
    small_gate: int = CC_SMALL_PAIRS,
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair
    list via min-label propagation. Returns (doc_id, comp) for every
    node that appears in a pair; comp = min doc_id of the component.
    ``max_rounds`` bounds worst-case chains (rounds ≈ diameter);
    convergence usually stops the loop much earlier.

    Each round ends in ``localCheckpoint(eager=True)``: iterative
    self-referencing joins double the logical-plan tree every round
    (labels appears twice in the next plan), so without lineage
    truncation Catalyst analysis goes exponential — persist() caches
    data but not the plan. On a real cluster with fault-tolerance
    requirements, set a checkpoint dir and swap in ``checkpoint()``.

    ``pinned=True`` promises the caller already materialized
    ``pairs`` (localCheckpoint/parquet): the symmetrize union is then
    left lazy (a narrow recompute over pinned rows per round) instead
    of spending a checkpoint job on it, and the label init folds into
    round 1's checkpoint. Two fewer jobs — the streaming fold calls
    this once per micro-batch, where scheduling dominates."""
    spark = pairs.sparkSession
    # materialize the pair list ONCE (callers passing pinned=True
    # already did); everything below — the count, the driver gate's
    # collect, the symmetrize union each round — reads the pinned
    # rows instead of re-running the upstream LSH. edge_count only
    # ever skips the COUNT job, never the pin: a counted-but-unpinned
    # caller would otherwise re-execute its upstream plan twice per
    # propagation round through the lazy symmetrize union.
    if not pinned:
        pairs = pairs.localCheckpoint(eager=True)
    n_pairs = edge_count if edge_count is not None else pairs.count()
    if n_pairs <= small_gate:
        return _cc_driver(spark, pairs, sort)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id")).distinct()
        .withColumn("comp", F.col("doc_id"))
    )
    # every propagation round shuffles O(edges) rows: size the round
    # width to the materialized edge count (~1M rows/partition,
    # floored at 8, capped at the deployment default — real graphs
    # get the default). Safe: each round executes eagerly inside.
    with scoped_shuffle_width(
        spark, sized_width(spark, 2 * n_pairs, floor=width_floor)
    ):
        labels, converged = _propagate(edges, labels, max_rounds)
    if not converged:
        # Auto-switch (r11): rounds = diameter for propagation, so a
        # deep component (the 90%-of-edges-one-chain probe shape,
        # tools/skew_probe_cc.py) exhausts max_rounds with labels
        # still moving. Returning them would be silently WRONG —
        # fall back to the O(log n)-round large/small-star face
        # (equivalence-tested on chains, hubs, random graphs) over
        # the same pinned pair list.
        return connected_components_star(pairs)
    # sort=False for intermediate folds (e.g. the per-batch streaming
    # CC fold, whose labels land in parquet state) — the range
    # exchange + sampling job behind orderBy is pure waste there
    return labels.orderBy("doc_id") if sort else labels


def uf_find(parent: dict, x):
    """Union-find root lookup with path compression (shared by the
    driver CC gate here and the streaming fold's driver tier)."""
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


def uf_union(parent: dict, a, b) -> None:
    """Insert both endpoints and merge their components (idempotent —
    re-unioning the same pair is a no-op, which makes replay safe)."""
    parent.setdefault(a, a)
    parent.setdefault(b, b)
    ra, rb = uf_find(parent, a), uf_find(parent, b)
    if ra != rb:
        parent[ra] = rb


def uf_labels(parent: dict) -> list[tuple]:
    """(node, comp) rows from a union-find state, comp = component
    min id, sorted by node — the single labeling convention every
    driver-tier consumer emits."""
    comp_min: dict = {}
    for v in parent:
        r = uf_find(parent, v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    return [(v, comp_min[uf_find(parent, v)]) for v in sorted(parent)]


def _cc_driver(spark: SparkSession, pairs: DataFrame, sort: bool) -> DataFrame:
    """Union-find on the driver for pair lists under the small gate —
    the same output contract as distributed propagation (comp = min
    doc_id per component, one row per node appearing in a pair), but
    one bounded collect + one createDataFrame instead of 6-10
    scheduled shuffle jobs. The collect is bounded by construction:
    the caller branches here only when the counted pair list is
    ≤ ``small_gate`` rows (a few MB)."""
    parent: dict = {}
    for r in pairs.collect():
        uf_union(parent, r[0], r[1])
    rows = uf_labels(parent)
    # output ids can come from EITHER pair column, so the schema uses
    # the WIDER of the two types — matching the distributed path,
    # whose node-list union coerces (e.g. int ∪ bigint → bigint)
    rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
    t_a, t_b = (f.dataType.simpleString() for f in pairs.schema.fields[:2])
    id_t = max((t_a, t_b), key=lambda t: rank.get(t, 99))
    out = spark.createDataFrame(rows, f"doc_id {id_t}, comp {id_t}")
    return out.orderBy("doc_id") if sort else out


def _propagate(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool]:
    """Min-label rounds; returns (labels, converged). A non-converged
    return means the graph's diameter exceeds max_rounds — the labels
    are NOT final and the caller must fall back (see
    ``connected_components``'s star auto-switch)."""
    converged = False
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry old_comp THROUGH the checkpoint: the convergence
        # probe is then a filter over one already-materialized frame
        # (no extra join+shuffle per round), and limit(1) stops the
        # scan at the first changed label
        new_labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.col("comp").alias("old_comp"),
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("old_comp") != F.col("comp")).limit(1).count()
        )
        labels = new_labels.select("doc_id", "comp")
        if changed == 0:
            converged = True
            break
    return labels, converged


def connected_components_star(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — the O(log n)-round formulation for DEEP graphs, where plain
    min-label propagation (``connected_components``) needs
    diameter-many rounds. Same output contract: (doc_id, comp) for
    every node in a pair, comp = component min.

    Each star op is one groupBy (per-node min neighbor) + one join
    (re-point edges at that min) — the same shuffle primitive as
    propagation, but the star moves EVERY neighbor to the min at
    once, halving tree heights per round. Convergence = the
    node→min-neighbor labelling stops changing. localCheckpoint per
    round for the same lineage reason as propagation."""

    def sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def min_nbr(e: DataFrame) -> DataFrame:
        # m(u) = min over u's neighbors and u itself
        return (
            sym(e)
            .groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
        )

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    # round width sized to the materialized edge count, same bounds
    # and reasoning as plain propagation above
    spark = pairs.sparkSession
    with scoped_shuffle_width(spark, sized_width(spark, edges.count())):
        prev_sig = None
        for _ in range(max_rounds):
            # large-star: strictly-larger neighbors re-point at m(u)
            m = min_nbr(edges)
            s = sym(edges)
            large = (
                s.filter(F.col("dst") > F.col("src"))
                .join(m, "src")
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            )
            # small-star: u AND each ≤ neighbor re-point at m(u) — both
            # emissions are required (dropping the neighbor side strands
            # leaf nodes whose only link was to a larger node)
            m2 = min_nbr(large)
            s2 = sym(large)
            small_nb = s2.filter(F.col("dst") <= F.col("src")).join(m2, "src")
            small = (
                small_nb.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .union(small_nb.select(F.col("src"), F.col("m").alias("dst")))
                .filter(F.col("src") != F.col("dst"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            edges = small
            sig = edges.agg(
                F.count("*").alias("n"), F.sum(F.col("src") + F.col("dst")).alias("s")
            ).collect()[0]
            if prev_sig == (sig["n"], sig["s"]):
                break
            prev_sig = (sig["n"], sig["s"])
    # converged: every edge points a node at its component min
    labels = (
        sym(edges)
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("mn"))
        .select("doc_id", F.least(F.col("mn"), F.col("doc_id")).alias("comp"))
    )
    return labels.orderBy("doc_id")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTE},
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a ORDER BY doc_id
"""

CONTAIN_T = 0.9  # directional containment threshold
# Hot-shingle cap for the block join: a shingle hash h present in m
# container docs fans every contained-side doc whose MIN-shingle is
# h out to m candidates — on a boilerplate-dense shard (one header
# shingle in 100k docs) that is an unbounded blowup. Per h, only the
# CONTAIN_DF_CAP smallest b_ids stay joinable (deterministic
# row_number rule, replayed EXACTLY by the SQL oracle, so the gate
# hash stays valid at any corpus size). Recall contract: a contained
# doc is missed only when its minimum shingle is ultra-common AND
# every true container ranks above the cap — and a doc whose
# min-shingle sits in >CONTAIN_DF_CAP docs is itself boilerplate the
# capped candidates still cover for component formation.
CONTAIN_DF_CAP = 256


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-dup detection: containment(A→B) =
    |A∩B| / |A| over trigram shingles — the score that catches a
    document EMBEDDED inside a larger one, which symmetric Jaccard
    dilutes below threshold when |B| ≫ |A| (the quote-a-whole-
    article case every training-data dedup has to handle).

    Candidate blocking is containment-aware: A's 1-permutation
    MinHash (min md5 over its shingles) must literally appear in B's
    shingle set — true with probability = containment, so ≥ 0.9
    recall at the threshold, and bucket size is bounded by the
    frequency of one shingle value — itself bounded by
    ``CONTAIN_DF_CAP`` on boilerplate-dense shards (see the cap
    constant's contract). The oracle replays the identical blocking
    INCLUDING the cap rule, so the gate hash pins the exact candidate
    protocol, probabilistic recall, cap and all."""
    # spread the SCAN (single parquet file = one partition) so the
    # shingle/hash build parallelizes on every derived side
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    base = (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", _shingles_expr().alias("shingles"))
        .withColumn(
            "hashes",
            F.expr(
                "transform(shingles, s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
            ),
        )
        .withColumn("minsh", F.array_min("hashes"))
    )
    # PIN the built table before self-joining: without it Catalyst
    # pushes the join keys' isnotnull predicates BELOW the exchange
    # and re-derives the whole regexp->shingle->md5 pipeline per
    # predicate per row on the unspread scan side (measured 3x the
    # build cost on one core); the checkpoint materializes the build
    # exactly once, at full width
    base = base.localCheckpoint(eager=True)
    a = base.select("doc_id", "shingles", "minsh").alias("a")
    # candidate discovery joins ONLY (b_id, h) — exploding the hash
    # list WITH each doc's shingle array attached would replicate the
    # array once per shingle (O(Σ sᵢ²) bytes; measured 8 GiB at just
    # 50k docs, over the broadcast-join hard cap). The container's
    # shingles are re-attached afterwards, once per CANDIDATE PAIR —
    # a set bounded by single-shingle collision frequency, which the
    # CONTAIN_DF_CAP window below bounds in turn on boilerplate-dense
    # shards (the window's h-partitioning is the join's own key, so
    # the cap rides the exchange the join pays anyway).
    bh = (
        base.select(F.col("doc_id").alias("b_id"), F.explode("hashes").alias("h"))
        .withColumn(
            "rnk", F.row_number().over(W.partitionBy("h").orderBy("b_id"))
        )
        .filter(F.col("rnk") <= CONTAIN_DF_CAP)
        .drop("rnk")
    )
    cand = a.join(
        bh, (F.col("a.minsh") == F.col("h")) & (F.col("a.doc_id") != F.col("b_id"))
    ).select("a.doc_id", "a.shingles", "a.minsh", "b_id")
    b_sh = base.select(
        F.col("doc_id").alias("b_id"), F.col("shingles").alias("b_shingles")
    )
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("b_shingles")))
    return (
        cand.join(b_sh, "b_id")
        .select(
            F.col("doc_id").alias("doc_contained"),
            F.col("b_id").alias("doc_container"),
            (
                F.round(inter / F.size(F.col("shingles")) * 10000.0).cast("long") / 10000.0
            ).alias("containment"),
            F.size(F.col("shingles")).alias("n_sh_a"),
            F.size(F.col("b_shingles")).alias("n_sh_b"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
        .distinct()
        .orderBy("doc_contained", "doc_container")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in generate_series(1, len(toks) - 2)]) AS shingles
  FROM t WHERE len(toks) >= 3
), h AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hashes,
         list_min(list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS minsh
  FROM sh
), bh0 AS (
  SELECT doc_id AS b_id, unnest(hashes) AS hh FROM h
), bh AS (
  -- hot-shingle cap, replayed exactly (see CONTAIN_DF_CAP): per
  -- shingle hash only the CAP smallest container ids stay joinable
  SELECT b_id, hh FROM (
    SELECT b_id, hh, row_number() OVER (PARTITION BY hh ORDER BY b_id) AS rnk
    FROM bh0
  ) WHERE rnk <= {CONTAIN_DF_CAP}
)
SELECT DISTINCT a.doc_id AS doc_contained,
       b.doc_id AS doc_container,
       CAST(round(len(list_intersect(a.shingles, b.shingles)) * 1e0 / len(a.shingles) * 1e4) AS BIGINT) / 1e4 AS containment,
       CAST(len(a.shingles) AS INT) AS n_sh_a,
       CAST(len(b.shingles) AS INT) AS n_sh_b
FROM h a JOIN bh ON a.minsh = bh.hh AND a.doc_id <> bh.b_id
JOIN h b ON b.doc_id = bh.b_id
WHERE CAST(round(len(list_intersect(a.shingles, b.shingles)) * 1e0 / len(a.shingles) * 1e4) AS BIGINT) / 1e4 >= {CONTAIN_T}
ORDER BY doc_contained, doc_container
"""


def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the step AFTER entity matching:
    within each name-prefix entity block holding ≥2 customers, elect
    the survivor (highest account balance, key as tie-break) and
    merge the block's attributes onto it (member count, combined
    balance, member-key checksum pinning exact block membership).

    Same bounded blocking as ``dedup_fuzzy_names``; election is one
    window rank inside the block — no cross-block data movement, so
    the whole resolution is a single hash-shuffle on the block key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.expr("substring(c_name, 1, greatest(length(c_name) - 3, 1))").alias("blk"),
    )
    w = F.count("*").over(W.partitionBy("blk"))
    rk = F.row_number().over(W.partitionBy("blk").orderBy(F.desc("c_acctbal"), "c_custkey"))
    stats = cust.select(
        "blk",
        "c_custkey",
        "c_name",
        "c_acctbal",
        w.alias("n_members"),
        rk.alias("rk"),
        # integer cents — unordered window sums of doubles are
        # partition-order-dependent across engines
        F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long"))
        .over(W.partitionBy("blk"))
        .alias("total_bal"),
        F.sum("c_custkey").over(W.partitionBy("blk")).alias("key_sum"),
    )
    return (
        stats.filter((F.col("n_members") >= 2) & (F.col("rk") == 1))
        .select(
            F.col("c_custkey").alias("survivor_key"),
            F.col("c_name").alias("survivor_name"),
            "n_members",
            (F.col("total_bal") / 100.0).alias("total_acctbal"),
            F.col("key_sum").alias("member_key_sum"),
        )
        .orderBy("survivor_key")
    )


Q_SURVIVORSHIP_SQL = """
WITH blk AS (
  SELECT c_custkey, c_name, c_acctbal,
         substr(c_name, 1, greatest(length(c_name) - 3, 1)) AS blk
  FROM customer
), stats AS (
  SELECT *,
         count(*) OVER (PARTITION BY blk) AS n_members,
         row_number() OVER (PARTITION BY blk ORDER BY c_acctbal DESC, c_custkey) AS rk,
         sum(CAST(round(c_acctbal * 1e2) AS BIGINT)) OVER (PARTITION BY blk) AS total_bal,
         sum(c_custkey) OVER (PARTITION BY blk) AS key_sum
  FROM blk
)
SELECT c_custkey AS survivor_key, c_name AS survivor_name,
       CAST(n_members AS BIGINT) AS n_members,
       total_bal / 1e2 AS total_acctbal,
       CAST(key_sum AS BIGINT) AS member_key_sum
FROM stats WHERE n_members >= 2 AND rk = 1
ORDER BY survivor_key
"""


SUBSTR_K = 8        # shingle width (tokens)
SUBSTR_MIN_RUN = 8  # consecutive matching shingles => >= 15 shared tokens
SUBSTR_DF_CAP = 100  # boilerplate guard: drop shingles in > this many docs


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplicate detection (the strongest dedup
    signal in the training-data literature — Lee et al., "Deduplicating
    Training Data Makes Language Models Better" use suffix arrays;
    this is the distributed shingle-diagonal equivalent): find
    document pairs sharing a verbatim run of >= SUBSTR_MIN_RUN + K - 1
    consecutive tokens, and report the longest such run per pair.

    Plan: positional K-token shingles per doc (sequence → transform →
    posexplode, all JVM expressions) → boilerplate guard drops
    shingles appearing in > SUBSTR_DF_CAP docs (caps self-join
    fan-out; standard stop-shingle trick) → self-join on the 64-bit
    shingle hash (da < db) → gaps-and-islands on each (pair,
    diagonal): consecutive positions pa with constant pa - pb form a
    maximal shared run.

    Scale: never materializes O(n²) pairs — the shuffle is keyed on
    shingle hash, fan-out bounded by the df cap, and runs are window
    functions over (pair, diagonal) groups whose size is bounded by
    doc length. Joining on xxhash64 (not the 8-token string) keeps
    the shuffle narrow. A 64-bit collision (~2^-64 per candidate)
    diverges from the string-keyed oracle in two directions, both
    negligible: (a) it could fabricate one spurious shingle match,
    which the min-run filter then discards; (b) because the DF cap is
    applied to hash values while the oracle caps the shingle string,
    a collision could also push a legitimate shingle's hash-DF over
    the cap and drop a real run segment — undocumented nowhere else,
    probability ~2^-64 per distinct-shingle pair, and absent on the
    gated data (the hash gate would catch it)."""
    # _spread: a 1-file scan is ONE partition, serializing the whole
    # tokenize on a single core (guide §2.5 input skew)
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    # Shingle build via window LEADs over exploded tokens, not a
    # transform/slice/concat lambda over the token array: higher-order
    # lambdas run INTERPRETED per element (and projection collapse can
    # inline the token array per reference), which made the old
    # array-expression build the dominant term of this key — measured
    # 3.05 → 0.40 s at sf0.1 for a BIT-IDENTICAL (doc_id, pos, h) set
    # (same concat_ws string feeds the same xxhash64; positions where
    # the (K−1)-th lead is NULL are exactly the positions the old
    # CASE/sequence guard excluded, including docs shorter than K).
    # The doc_id window adds one narrow shuffle of token rows —
    # bounded by corpus token count, the same order as the explode
    # itself (guide §1.2: per-task work before configuration).
    toks = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    wd = W.partitionBy("doc_id").orderBy("pos")
    lead_toks = [F.col("w")] + [F.lead("w", j).over(wd) for j in range(1, SUBSTR_K)]
    sh = (
        toks.select(
            "doc_id",
            "pos",
            F.xxhash64(F.concat_ws(" ", *lead_toks)).alias("h"),
            F.lead("w", SUBSTR_K - 1).over(wd).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .drop("_tail")
    )
    # boilerplate guard: distinct-doc frequency per shingle, as a
    # window over h (one exchange, no second scan + join-back), then
    # persist: the self-join reads this lineage twice, and both join
    # sides inherit HashPartitioning(h) from the window — the join
    # itself adds NO exchange
    sh = (
        sh.withColumn("df", F.size(F.collect_set("doc_id").over(W.partitionBy("h"))))
        .filter(F.col("df") <= SUBSTR_DF_CAP)
        .drop("df")
        .persist()
    )
    a = sh.select(F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "h")
    b = sh.select(F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "h")
    j = a.join(b, "h").filter(F.col("da") < F.col("db"))
    grp_w = W.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy("pa")
    runs = (
        j.withColumn("grp", F.col("pa") - F.row_number().over(grp_w))
        .groupBy("da", "db", (F.col("pa") - F.col("pb")).alias("diag"), "grp")
        .agg(F.count("*").alias("run"))
    )
    result = (
        runs.groupBy("da", "db")
        .agg(F.max("run").alias("max_run_shingles"))
        .filter(F.col("max_run_shingles") >= SUBSTR_MIN_RUN)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("max_run_shingles").cast("long").alias("max_run_shingles"),
            (F.col("max_run_shingles") + SUBSTR_K - 1)
            .cast("long")
            .alias("max_run_tokens"),
        )
        .orderBy("doc_a", "doc_b")
    )
    # pin the (small) pair list eagerly so the cached shingle lineage
    # can be released — otherwise repeated invocations in one session
    # (gate sweep, bench loops) accumulate blocks in storage memory
    result = result.localCheckpoint(eager=True)
    sh.unpersist()
    return result


# The oracle joins on the shingle STRING (DuckDB's hash() is a
# different function; string equality == xxhash64 equality modulo the
# collision odds documented above).
DEDUP_SUBSTRING_SQL = f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id, t.i AS pos,
         array_to_string(w[t.i + 1:t.i + {SUBSTR_K}], ' ') AS s
  FROM ws, UNNEST(generate_series(0, len(w) - {SUBSTR_K})) AS t(i)
),
ok AS (
  SELECT s FROM sh GROUP BY s
  HAVING count(DISTINCT doc_id) <= {SUBSTR_DF_CAP}
),
shf AS (SELECT sh.* FROM sh JOIN ok USING (s)),
j AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
),
runs AS (
  SELECT da, db,
         count(*) AS run
  FROM (SELECT da, db, pa, pb,
               pa - row_number() OVER (PARTITION BY da, db, pa - pb
                                       ORDER BY pa) AS grp
        FROM j)
  GROUP BY da, db, pa - pb, grp
)
SELECT da AS doc_a, db AS doc_b,
       CAST(max(run) AS BIGINT) AS max_run_shingles,
       CAST(max(run) + {SUBSTR_K} - 1 AS BIGINT) AS max_run_tokens
FROM runs GROUP BY da, db
HAVING max(run) >= {SUBSTR_MIN_RUN}
ORDER BY doc_a, doc_b
"""


EVAL_N = 1000       # deterministic eval universe: doc_id < EVAL_N
EVAL_J = 0.7        # ground-truth Jaccard threshold


def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality measurement — the eval a production dedup
    pipeline runs before trusting a blocking scheme at scale: exact
    word-trigram Jaccard ≥ EVAL_J ground-truth pairs over a BOUNDED
    deterministic universe (doc_id < EVAL_N — constant work at any
    corpus size; sampled-truth eval is the standard practice, since
    exhaustive truth at 100 TB is definitionally impossible), then
    per blocking scheme: how many truth pairs land in a shared block
    (recall) and how many blocked pairs are true (precision).

    Schemes evaluated: ``simhash`` (16-bit majority-vote signature
    equality, dedup_simhash's buckets) and ``minsh_block`` (the
    (length-bucket, 1-permutation-MinHash) key dedup_ngram_jaccard
    blocks on). The third blocking family the engine ships — banded
    MinHash-LSH — is deliberately absent here: its NumPy-PCG64
    permutations are not SQL-replayable, and its recall is already
    oracle-PROVEN (not sampled) by ``dedup_minhash_lsh``'s own gate,
    which compares the banded output against the exhaustive pair
    list. Output: one row per scheme with counts and 1e-4
    fixed-point recall/precision (NULL when the denominator is 0).

    Scale: the truth self-join is bounded by EVAL_N², further cut by
    the lossless length-ratio prune; both candidate sides are plain
    blocked self-joins on the scheme key. Nothing here is O(corpus²).
    """
    # every frame in this eval is bounded by the CONSTANT EVAL_N
    # (universe, truth pairs, candidate pairs), so a narrow shuffle
    # width is scale-correct; the whole eval executes inside the swap
    # via the eager checkpoints and the final count-driven aggregates
    with scoped_shuffle_width(spark, min(shuffle_width(spark), 8)):
        return _dedup_recall_eval(spark, sf_dir).localCheckpoint(eager=True)


def _dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < EVAL_N)
    # intersections run on md5-HASHED shingles (long arrays): same
    # Jaccard both engines (identical md5 stream, collisions
    # deterministic and negligible at 2^60), ~3x cheaper than string
    # intersects; minsh falls out as array_min of the same array
    base = (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"), "n_chars")
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "toks",
            _shingles_expr().alias("shingles"),
            F.floor(F.col("n_chars") / 64).cast("int").alias("len_bucket"),
        )
        .withColumn(
            "sh_h",
            F.expr(
                "transform(shingles,"
                " s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
            ),
        )
        .withColumn("minsh", F.array_min("sh_h"))
        .drop("shingles")
        .localCheckpoint(eager=True)
    )

    # exact ground truth via the inverted-index all-pairs count
    # (guide §3.2 / §2.3: decide with small rows): explode each doc's
    # DISTINCT shingle hashes, equality-self-join on the hash, and
    # count shared hashes per pair — that count IS
    # size(array_intersect(sh_h, sh_h)) , so the Jaccard expression
    # (set intersection over RAW-size union, the pinned semantics) is
    # unchanged and the truth SET is identical. The former
    # formulation was a BroadcastNestedLoopJoin evaluating an
    # array_intersect for every length-compatible pair
    # (~EVAL_N²/2 evaluations for a handful of truth rows — measured
    # 6.9 s at sf0.1); pairs sharing zero shingles now never
    # materialize at all (they had jac = 0 < EVAL_J). Re-gated at
    # sf0.01 and sf0.1.
    sz = F.size("sh_h")
    ex = base.select(
        "doc_id", sz.alias("sz"), F.explode(F.array_distinct("sh_h")).alias("h")
    )
    x, y = ex.alias("x"), ex.alias("y")
    cand = (
        x.join(y, (F.col("x.h") == F.col("y.h")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sz").alias("sza"),
            F.col("y.sz").alias("szb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        F.round(
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")) * 10000.0
        ).cast("long")
        / 10000.0
    )
    truth = (
        cand.filter(jac >= EVAL_J)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )

    # scheme 1: simhash signature equality (same formulation as
    # dedup_simhash, restricted to the eval universe)
    tok = base.select("doc_id", F.explode("toks").alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), bb).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{bb}")
            for bb in range(N_SIMHASH_BITS)
        ]
    )
    sig = None
    for bb in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"v{bb}") > 0, F.lit(2**bb)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    sigs = votes.select("doc_id", sig.cast("long").alias("k"))
    sim_pairs = (
        sigs.alias("x")
        .join(sigs.alias("y"), (F.col("x.k") == F.col("y.k")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )

    # scheme 2: (len_bucket, minsh) blocking key
    blk_keys = base.select("doc_id", "len_bucket", "minsh")
    blk_pairs = (
        blk_keys.alias("x")
        .join(
            blk_keys.alias("y"),
            (F.col("x.len_bucket") == F.col("y.len_bucket"))
            & (F.col("x.minsh") == F.col("y.minsh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )

    n_truth = truth.count()

    def score(method: str, cand: DataFrame) -> DataFrame:
        hit = cand.join(truth, ["doc_a", "doc_b"])
        agg = cand.agg(F.count("*").alias("n_cand")).crossJoin(
            hit.agg(F.count("*").alias("n_hit"))
        )
        rec = F.when(
            F.lit(n_truth) > 0,
            F.round(F.col("n_hit") * 10000.0 / n_truth).cast("long"),
        )
        prec = F.when(
            F.col("n_cand") > 0,
            F.round(F.col("n_hit") * 10000.0 / F.col("n_cand")).cast("long"),
        )
        return agg.select(
            F.lit(method).alias("method"),
            F.lit(n_truth).alias("n_truth"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_hit").cast("long").alias("n_hit"),
            rec.alias("recall_x1e4"),
            prec.alias("precision_x1e4"),
        )

    return (
        score("minsh_block", blk_pairs)
        .union(score("simhash", sim_pairs))
        .orderBy("method")
    )


_EVAL_VOTE_SQL = ",\n".join(
    f"         sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(N_SIMHASH_BITS)
)
_EVAL_SIG_SQL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(N_SIMHASH_BITS)
)

DEDUP_RECALL_EVAL_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         CAST(floor(n_chars / 64) AS INT) AS len_bucket
  FROM documents WHERE doc_id < {EVAL_N}
), sh AS MATERIALIZED (
  SELECT doc_id, toks, len_bucket,
         list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in generate_series(1, len(toks) - 2)]) AS shingles
  FROM t WHERE len(toks) >= 3
), keyed AS MATERIALIZED (
  SELECT doc_id, toks, len_bucket,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS sh_h,
         list_min(list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS minsh
  FROM sh
), truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(round(len(list_intersect(a.sh_h, b.sh_h)) * 1e0 /
                 (len(a.sh_h) + len(b.sh_h) - len(list_intersect(a.sh_h, b.sh_h)))
                 * 1e4) AS BIGINT) / 1e4 AS jaccard
    FROM keyed a JOIN keyed b ON a.doc_id < b.doc_id
      AND len(a.sh_h) * 10 >= len(b.sh_h) * {int(EVAL_J * 10)}
      AND len(b.sh_h) * 10 >= len(a.sh_h) * {int(EVAL_J * 10)}
  ) WHERE jaccard >= {EVAL_J}
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM keyed)
), votes AS (
  SELECT doc_id,
{_EVAL_VOTE_SQL}
  FROM hashed GROUP BY doc_id
), sigs AS MATERIALIZED (
  SELECT doc_id, CAST({_EVAL_SIG_SQL} AS BIGINT) AS k FROM votes
), sim_pairs AS MATERIALIZED (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sigs x JOIN sigs y ON x.k = y.k AND x.doc_id < y.doc_id
), blk_pairs AS MATERIALIZED (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keyed x JOIN keyed y
    ON x.len_bucket = y.len_bucket AND x.minsh = y.minsh AND x.doc_id < y.doc_id
), nt AS (SELECT count(*) AS n_truth FROM truth),
scored AS (
  SELECT 'minsh_block' AS method,
         (SELECT n_truth FROM nt) AS n_truth,
         CAST(count(*) AS BIGINT) AS n_cand,
         CAST((SELECT count(*) FROM blk_pairs p JOIN truth USING (doc_a, doc_b)) AS BIGINT) AS n_hit
  FROM blk_pairs
  UNION ALL
  SELECT 'simhash',
         (SELECT n_truth FROM nt),
         CAST(count(*) AS BIGINT),
         CAST((SELECT count(*) FROM sim_pairs p JOIN truth USING (doc_a, doc_b)) AS BIGINT)
  FROM sim_pairs
)
SELECT method, n_truth, n_cand, n_hit,
       CASE WHEN n_truth > 0
            THEN CAST(round(n_hit * 1e4 / n_truth) AS BIGINT) END AS recall_x1e4,
       CASE WHEN n_cand > 0
            THEN CAST(round(n_hit * 1e4 / n_cand) AS BIGINT) END AS precision_x1e4
FROM scored ORDER BY method
"""


def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE with per-stage attrition — four
    progressively-fuzzier stages applied SEQUENTIALLY (each stage
    sees only the previous stage's survivors, survivor = smallest
    doc_id per key):

    1. ``exact``   — sha256(text) (byte-identical copies);
    2. ``canon``   — md5 of the normalized token stream (whitespace/
       case/punctuation variants);
    3. ``tokset``  — md5 of the sorted DISTINCT token set (reordered/
       repeated-content variants);
    4. ``simhash`` — the 16-bit majority-vote signature
       (``_simhash_sigs``): near-dup bucket collapse.

    Emits one row per stage: (stage_id, stage, docs_in, docs_removed,
    docs_out) — the attrition report every corpus-curation run ships.

    Plan: ONE pass computing all four keys, then four chained window
    minima (min over stage key among prior survivors — each a plain
    hash-partition window, no n-sized frame), one final flag-sum
    aggregation; the 1-row agg collect fans out to the 4-row report.
    Four hash shuffles total, each keyed on a dedup key — linear at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("k_exact"),
        F.md5(F.array_join(_tokens(F.col("text")), " ")).alias("k_canon"),
        _tokset_key(F.col("text")).alias("k_tokset"),
    ).join(_simhash_sigs(docs), "doc_id", "left")
    stages = ["k_exact", "k_canon", "k_tokset", "simhash"]
    surv_prev = F.lit(True)
    flags = keyed
    for i, k in enumerate(stages, start=1):
        m = F.min(F.when(surv_prev, F.col("doc_id"))).over(W.partitionBy(k))
        flags = flags.withColumn(f"surv{i}", surv_prev & (F.col("doc_id") == m))
        surv_prev = F.col(f"surv{i}")
    agg = flags.agg(
        F.count("*").alias("n0"),
        *[F.sum(F.col(f"surv{i}").cast("long")).alias(f"n{i}") for i in range(1, 5)],
    ).head()
    names = ["exact", "canon", "tokset", "simhash"]
    rows = []
    for i, name in enumerate(names, start=1):
        d_in, d_out = int(agg[f"n{i-1}"]), int(agg[f"n{i}"])
        rows.append((i, name, d_in, d_in - d_out, d_out))
    return spark.createDataFrame(
        rows,
        "stage_id int, stage string, docs_in long, docs_removed long, docs_out long",
    ).orderBy("stage_id")


DEDUP_CASCADE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         sha256(text) AS k_exact,
         md5(coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '')) AS k_canon,
         md5(coalesce(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' '), '')) AS k_tokset
  FROM documents
), tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), votes AS (
  SELECT doc_id,
{_VOTE_SQL}
  FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT doc_id, CAST({_SIG_SQL} AS BIGINT) AS simhash FROM votes
), base AS (
  SELECT k.doc_id, k.k_exact, k.k_canon, k.k_tokset, s.simhash
  FROM keyed k LEFT JOIN sigs s USING (doc_id)
), s1 AS (
  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY k_exact) AS surv1 FROM base
), s2 AS (
  SELECT *, surv1 AND doc_id = min(CASE WHEN surv1 THEN doc_id END)
                             OVER (PARTITION BY k_canon) AS surv2 FROM s1
), s3 AS (
  SELECT *, surv2 AND doc_id = min(CASE WHEN surv2 THEN doc_id END)
                             OVER (PARTITION BY k_tokset) AS surv3 FROM s2
), s4 AS (
  SELECT *, surv3 AND doc_id = min(CASE WHEN surv3 THEN doc_id END)
                             OVER (PARTITION BY simhash) AS surv4 FROM s3
), c AS (
  SELECT count(*) AS n0,
         sum(CAST(surv1 AS BIGINT)) AS n1, sum(CAST(surv2 AS BIGINT)) AS n2,
         sum(CAST(surv3 AS BIGINT)) AS n3, sum(CAST(surv4 AS BIGINT)) AS n4
  FROM s4
)
SELECT * FROM (
  SELECT CAST(1 AS INT) AS stage_id, 'exact' AS stage,
         CAST(n0 AS BIGINT) AS docs_in, CAST(n0 - n1 AS BIGINT) AS docs_removed,
         CAST(n1 AS BIGINT) AS docs_out FROM c
  UNION ALL SELECT 2, 'canon', CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT), CAST(n2 AS BIGINT) FROM c
  UNION ALL SELECT 3, 'tokset', CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT), CAST(n3 AS BIGINT) FROM c
  UNION ALL SELECT 4, 'simhash', CAST(n3 AS BIGINT), CAST(n3 - n4 AS BIGINT), CAST(n4 AS BIGINT) FROM c
) ORDER BY stage_id
"""


QUERIES = {
    "q_survivorship": q_survivorship,
    "dedup_cascade": dedup_cascade,
    "dedup_recall_eval": dedup_recall_eval,
    "dedup_substring": dedup_substring,
    "dedup_containment": dedup_containment,
    "dedup_exact": dedup_exact,
    "dedup_fuzzy_names": dedup_fuzzy_names,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_components": dedup_components,
}

ORACLES = {
    "q_survivorship": Q_SURVIVORSHIP_SQL,
    "dedup_cascade": DEDUP_CASCADE_SQL,
    "dedup_recall_eval": DEDUP_RECALL_EVAL_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_fuzzy_names": DEDUP_FUZZY_NAMES_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_LSH_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
}
