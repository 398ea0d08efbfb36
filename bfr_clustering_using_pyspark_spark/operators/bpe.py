"""Distributed BPE tokenizer training + encoding — the tokenizer
face of an LLM training-data pipeline (the step between curation and
sequence packing: fit the subword vocabulary on the corpus, then
measure per-document token counts under it).

Spark-first shape (the SentencePiece/HF map-reduce recipe):

- Train on the DISTINCT-WORD table weighted by frequency, never the
  raw token stream — the vocabulary is Zipf-bounded, so the state
  each merge round touches is sublinear in corpus size (at 100 TB
  the word-frequency table is a few GB; every round is a scan of
  that table, not the corpus).
- Each round is one map-side-combined pair-count aggregation plus a
  ``TakeOrderedAndProject`` top-1 — the driver holds O(rounds)
  state (the merge table), exactly the kmeans_lloyd_det contract
  (plans/ml_queries.py), never O(vocab).
- The merge step itself is a single JVM string ``replace`` over the
  delimited symbol string (no explode, no UDF, stays inside
  whole-stage codegen): each symbol is wrapped ``|tok|``, a merge
  of (a,b) replaces ``|a||b|`` with ``|ab|``.  Both Spark's
  ``replace`` and DuckDB's scan left-to-right non-overlapping, which
  IS greedy BPE application semantics — verified on the aaa/abab
  overlap cases — so the oracle replays merges with the identical
  primitive.

The reference (single-node BFR clustering homework, 946 LoC,
code/bfr.py) has no text surface; these operators extend the engine
for the training-data-pipeline brief with the same DuckDB hash-gate
contract as every other key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import SessionCache
from ..functions.text import TOKEN_RE, word_tokens
from ..sources.readers import load_table
from .retrieval import _spread

# Merge rounds. Real tokenizers run ~30k merges of exactly this loop;
# 12 keeps the unrolled oracle tractable while exercising every
# mechanism (pair re-counting over merged symbols, multi-char merge
# targets, overlap handling).
R_MERGES = 12
# Symbol delimiter — tokens are [a-z0-9]+ runs, so '|' never collides.
_D = "|"


def _pair_counts(wf: DataFrame, sym) -> DataFrame:
    """Weighted adjacent-pair counts over the delimited symbol
    strings: split back to symbol arrays, zip with the self-shifted
    array, explode, sum word frequencies. All array ops are JVM
    higher-order functions (no Python in the loop)."""
    arr = F.filter(F.split(sym, r"\|"), lambda x: x != "")
    shifted = F.slice(arr, F.lit(2), F.greatest(F.size(arr) - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(arr, shifted, lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs"))),
        lambda p: p["rhs"].isNotNull(),
    )
    return (
        wf.select("wcount", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("wcount").alias("cnt"))
    )


# Session cache of (word-frequency frame, merge table): the gate runs
# text_bpe_train and text_bpe_encode back-to-back over the same
# corpus, and the R_MERGES driver rounds must not run twice. Doctrine
# in functions/cache.py.
_BPE_CACHE_MAX = 2
_BPE_CACHE = SessionCache(_BPE_CACHE_MAX)

# Fold the accumulated merge ``replace`` chain into the checkpointed
# word table every N rounds: without this, round r's pair count
# re-evaluates r nested replaces (O(R²) total replays) and a deep run
# risks Catalyst expression-depth/codegen fallback (ADVICE r13). 24
# keeps the 12-round hash-gated face on its original single-segment
# plan while bounding deep-face expression depth at a constant.
_BPE_CKPT_EVERY = 24


def _bpe_fit(spark: SparkSession, sf_dir: str, n_merges: int = R_MERGES):
    """Fit R_MERGES BPE merges on the corpus's distinct-word table.

    Returns ``(wf, merges)`` where ``wf`` is the checkpointed frame
    (word, wcount, sym) with ``sym`` the FINAL delimited symbol
    string after all merges, and ``merges`` the driver-side list of
    (round, lhs, rhs, pair_count).
    """
    return _BPE_CACHE.get_or_build(
        spark,
        lambda: _bpe_fit_build(spark, sf_dir, n_merges),
        f"{sf_dir}/documents.parquet",
        n_merges,
    )


def _bpe_fit_build(spark: SparkSession, sf_dir: str, n_merges: int):
    docs = _spread(load_table(spark, sf_dir, "documents"))
    wf = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
        .select(
            "word",
            "wcount",
            F.regexp_replace("word", "(.)", rf"{_D}$1{_D}").alias("sym"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    sym = F.col("sym")
    for rnd in range(1, n_merges + 1):
        # O(1) driver state per round: ONE (lhs, rhs, cnt) row via
        # TakeOrderedAndProject over the map-side-combined pair agg —
        # whitelisted in tests/test_no_driver_collects.py next to the
        # kmeans per-round centroid feedback. Deterministic total
        # order: cnt DESC, lhs ASC, rhs ASC (integer counts).
        top = _pair_counts(wf, sym).orderBy(F.desc("cnt"), "lhs", "rhs").limit(1).collect()
        if not top:
            # degenerate corpus (no adjacent pairs left): the oracle's
            # t{r} CTE is empty and its LEFT JOIN keeps syms unchanged
            # — stopping here mirrors that exactly
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["cnt"]
        merges.append((rnd, lhs, rhs, int(cnt)))
        sym = F.replace(sym, F.lit(f"{_D}{lhs}{_D}{_D}{rhs}{_D}"), F.lit(f"{_D}{lhs}{rhs}{_D}"))
        if rnd % _BPE_CKPT_EVERY == 0:
            # bound expression depth: materialize the merged symbols
            # and restart the replace chain from the stored column
            wf = wf.select("word", "wcount", sym.alias("sym")).localCheckpoint(
                eager=True
            )
            sym = F.col("sym")
    wf_final = wf.select("word", "wcount", sym.alias("sym")).localCheckpoint(eager=True)
    return wf_final, merges


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table on the document corpus: R_MERGES
    rounds of (count weighted adjacent symbol pairs over the distinct
    words) → (merge the globally most frequent pair everywhere).

    Emits one row per learned merge: (merge_round, lhs, rhs,
    pair_count), the exact artifact a tokenizer ships. Ties break on
    (lhs, rhs) ascending, so the table is deterministic cross-engine.
    """
    _wf, merges = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_round INT, lhs STRING, rhs STRING, pair_count BIGINT"
    ).orderBy("merge_round")


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the trained merge table and report
    per-doc token economics: (doc_id, n_words, n_chars,
    n_bpe_tokens, chars_per_token).

    The encode is a JOIN, not a re-tokenization: the fitted
    distinct-word table already carries each word's final symbol
    count (symbol count = '|' occurrences / 2 — pure string length
    arithmetic, no split), so encoding the corpus is
    words→vocab join + per-doc sum. The vocab side is Zipf-bounded
    (AQE broadcasts it); docs with zero tokens survive via the
    left join (n_* = 0 — the retrieval_eval no-vanishing doctrine).
    chars_per_token is floored at 4dp from exact integer inputs
    (floor, not round: half-case tie handling differs per engine).
    """
    wf, _merges = _bpe_fit(spark, sf_dir)
    wstats = wf.select(
        "word",
        F.length("word").alias("n_chars_w"),
        ((F.length("sym") - F.length(F.replace("sym", F.lit(_D), F.lit("")))) / 2)
        .cast("long")
        .alias("n_sym"),
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("word"))
    agg = (
        words.join(wstats, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars_w").alias("n_chars"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
            F.when(F.col("n_bpe_tokens").isNull(), F.lit(0.0))
            .otherwise(
                F.floor(F.col("n_chars") * F.lit(1e4) / F.col("n_bpe_tokens")) / F.lit(1e4)
            )
            .alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's VOCABULARY — the second artifact a
    tokenizer ships next to the merge table: every distinct final
    symbol (post-merge subword) with how many distinct words contain
    it and its total corpus occurrence count (word frequency ×
    within-word occurrences). Single-character survivors and merged
    subwords appear side by side, which is how you audit a
    tokenizer's coverage before committing to it.

    Rides the session-cached fit (``_bpe_fit``): one explode of the
    final symbol strings over the Zipf-bounded distinct-word table —
    vocabulary-sized work, independent of corpus row count."""
    wf, _merges = _bpe_fit(spark, sf_dir)
    toks = wf.select(
        "word",
        "wcount",
        F.explode(F.filter(F.split("sym", r"\|"), lambda x: x != "")).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.sum("wcount").alias("total_occurrences"),
        )
        .select(
            "token",
            F.length("token").alias("token_len"),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("total_occurrences").cast("long").alias("total_occurrences"),
        )
        .orderBy("token")
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit by (lang, source): BPE tokens per
    word and chars per token for every corpus segment — the standard
    pre-flight check before committing a tokenizer to a multilingual/
    multi-source training mix (a segment with outlier fertility gets
    under-trained at a fixed token budget). Emits (lang, source,
    n_docs, n_words, n_bpe_tokens, fertility, chars_per_token); the
    ratios are floored at 4dp from exact integer sums (floor, not
    round — tie handling differs per engine).

    Rides the session-cached fit: corpus-side work is one
    words→vocab broadcast join + a (lang, source) aggregation —
    segment-count output, corpus-linear scan."""
    wf, _merges = _bpe_fit(spark, sf_dir)
    wstats = wf.select(
        "word",
        F.length("word").alias("n_chars_w"),
        ((F.length("sym") - F.length(F.replace("sym", F.lit(_D), F.lit("")))) / 2)
        .cast("long")
        .alias("n_sym"),
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", "source", F.explode(word_tokens(F.col("text"))).alias("word")
    )
    return (
        words.join(wstats, "word")
        .groupBy("lang", "source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("n_chars_w").alias("n_chars"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            (
                F.floor(
                    F.col("n_bpe_tokens") * F.lit(1e4)
                    / F.greatest(F.col("n_words"), F.lit(1))
                )
                / F.lit(1e4)
            ).alias("fertility"),
            (
                F.floor(
                    F.col("n_chars") * F.lit(1e4)
                    / F.greatest(F.col("n_bpe_tokens"), F.lit(1))
                )
                / F.lit(1e4)
            ).alias("chars_per_token"),
        )
        .orderBy("lang", "source")
    )


def _rounds_ctes() -> str:
    """The unrolled merge rounds as DuckDB CTE text: round r computes
    pair counts p{r} from word state w{r-1}, the top pair t{r}
    (ORDER BY cnt DESC, lhs, rhs LIMIT 1), and the merged state w{r}
    via the same left-to-right non-overlapping ``replace``. The LEFT
    JOIN ON TRUE keeps syms unchanged when t{r} is empty, mirroring
    the Spark loop's early stop."""
    parts = [
        f"""
WITH w0 AS MATERIALIZED (
  SELECT word, count(*) AS wcount,
         regexp_replace(word, '(.)', '{_D}\\1{_D}', 'g') AS sym
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for r in range(1, R_MERGES + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT pr[1] AS lhs, pr[2] AS rhs, sum(wcount) AS cnt FROM (
    SELECT wcount, unnest(list_zip(toks, toks[2:])) AS pr FROM (
      SELECT wcount, list_filter(string_split(sym, '{_D}'), x -> x <> '') AS toks FROM w{r - 1}
    )
  ) WHERE pr[2] IS NOT NULL GROUP BY pr[1], pr[2]
),
t{r} AS (SELECT lhs, rhs, cnt FROM p{r} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
w{r} AS MATERIALIZED (
  SELECT word, wcount,
         CASE WHEN t.lhs IS NULL THEN sym
              ELSE replace(sym, '{_D}' || t.lhs || '{_D}{_D}' || t.rhs || '{_D}',
                           '{_D}' || t.lhs || t.rhs || '{_D}') END AS sym
  FROM w{r - 1} LEFT JOIN t{r} t ON TRUE
)"""
        )
    return "".join(parts)


TEXT_BPE_TRAIN_SQL = (
    _rounds_ctes()
    + "\nSELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT {r} AS merge_round, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, R_MERGES + 1)
    )
    + "\n) ORDER BY merge_round\n"
)


TEXT_BPE_ENCODE_SQL = (
    _rounds_ctes()
    + f""",
wstats AS (
  SELECT word, length(word) AS n_chars_w,
         (length(sym) - length(replace(sym, '{_D}', ''))) // 2 AS n_sym
  FROM w{R_MERGES}
), dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word FROM documents
), agg AS (
  SELECT doc_id, count(*) AS n_words, sum(n_chars_w) AS n_chars, sum(n_sym) AS n_bpe_tokens
  FROM dw JOIN wstats USING (word) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       CASE WHEN a.n_bpe_tokens IS NULL THEN 0.0
            ELSE floor(CAST(a.n_chars AS DOUBLE) * 1e4 / a.n_bpe_tokens) / 1e4
       END AS chars_per_token
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""
)


TOKENIZER_FERTILITY_SQL = (
    _rounds_ctes()
    + f""",
wstats AS (
  SELECT word, length(word) AS n_chars_w,
         (length(sym) - length(replace(sym, '{_D}', ''))) // 2 AS n_sym
  FROM w{R_MERGES}
), dw AS (
  SELECT doc_id, lang, source,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
  FROM documents
)
SELECT lang, source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       floor(CAST(sum(n_sym) AS DOUBLE) * 1e4 / greatest(count(*), 1)) / 1e4 AS fertility,
       floor(CAST(sum(n_chars_w) AS DOUBLE) * 1e4 / greatest(sum(n_sym), 1)) / 1e4 AS chars_per_token
FROM dw JOIN wstats USING (word)
GROUP BY lang, source
ORDER BY lang, source
"""
)


TEXT_BPE_VOCAB_SQL = (
    _rounds_ctes()
    + f""",
toks AS (
  SELECT word, wcount,
         unnest(list_filter(string_split(sym, '{_D}'), x -> x <> '')) AS token
  FROM w{R_MERGES}
)
SELECT token,
       CAST(length(token) AS INT) AS token_len,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words,
       CAST(sum(wcount) AS BIGINT) AS total_occurrences
FROM toks GROUP BY token ORDER BY token
"""
)


# Deep-merge face: realistic merge counts. R_MERGES=12 exists so the
# oracle can UNROLL the rounds in SQL; a production tokenizer runs
# hundreds-to-thousands of the SAME loop. R_DEEP caps the rounds —
# training terminates earlier on its own when no adjacent pair is
# left (every word fully merged), which the gate corpora reach well
# under the cap; the near-flat scale curvature (rounds bounded by
# vocab, not corpus) is the point of this face.
R_DEEP = 400


def text_bpe_train_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at a REALISTIC merge depth (up to ``R_DEEP``
    rounds; stops when the pair table empties): the scale face of
    ``text_bpe_train``, whose 12 rounds exist only to keep the
    unrolled SQL oracle tractable. Rows-only (an unrolled oracle at
    this depth is intractable by construction) — pinned instead by
    conservation/monotonicity/termination property tests
    (tests/test_bpe.py) and the scale probe. Per-round cost: one
    map-side-combined pair aggregation over the Zipf-bounded
    distinct-word table + a top-1 TakeOrdered, with the accumulated
    merge chain folded into the checkpointed table every
    ``_BPE_CKPT_EVERY`` rounds so expression depth (and per-round
    replay cost) stays bounded by a constant at any depth; driver
    state O(rounds)."""
    _wf, merges = _bpe_fit(spark, sf_dir, n_merges=R_DEEP)
    return spark.createDataFrame(
        merges, "merge_round INT, lhs STRING, rhs STRING, pair_count BIGINT"
    ).orderBy("merge_round")


QUERIES = {
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
    "text_bpe_vocab": text_bpe_vocab,
    "text_bpe_train_deep": text_bpe_train_deep,
    "tokenizer_fertility": tokenizer_fertility,
}

ORACLES = {
    "text_bpe_train": TEXT_BPE_TRAIN_SQL,
    "text_bpe_encode": TEXT_BPE_ENCODE_SQL,
    "text_bpe_vocab": TEXT_BPE_VOCAB_SQL,
    "tokenizer_fertility": TOKENIZER_FERTILITY_SQL,
    # text_bpe_train_deep: intentionally no oracle (rows-only) — an
    # unrolled CTE per merge round at R_DEEP depth is intractable;
    # the key is pinned by property tests + determinism instead
}
