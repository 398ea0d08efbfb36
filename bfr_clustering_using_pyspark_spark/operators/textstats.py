"""Text analysis over the documents table — language-ID, quality
scoring, token counting, fingerprinting.

All four are pure `pyspark.sql.functions` expressions (JVM-side,
whole-stage-codegen, zero Python in the hot path) and therefore scale
as fast as the parquet scan itself. Regex patterns are kept in the
common RE2/Java subset so the DuckDB oracles match byte-for-byte.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cache import SessionCache
from ..functions.numeric import fixed_avg_int, fixed_point
from ..sources.readers import load_table

TOKEN_RE = "[a-z0-9]+"
# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# tiny marker-word inventories for the n-gram langid heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, regex word tokens, BPE-ish
    pre-tokens, distinct words."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(_tokens(F.col("text"))).alias("n_word_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).alias("n_bpe_tokens"),
        F.size(F.array_distinct(_tokens(F.col("text")))).alias("n_distinct_words"),
    ).orderBy("doc_id")


TEXT_TOKENS_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_word_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS n_distinct_words
FROM documents ORDER BY doc_id
"""


STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on"]


def quality_flag_expr(text_col):
    """The composite pass/fail quality gate as a reusable boolean
    expression (shared by the batch scorer and the streaming ingest
    filter so both stay semantically identical)."""
    toks = _tokens(text_col)
    n_tok = F.size(toks)
    n_stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(text_col, F.lit("[^a-zA-Z0-9 ]"), 0))
    return (
        (F.length(text_col) >= 50)
        & (n_stop_hits / F.greatest(n_tok, F.lit(1)) > 0.05)
        & (n_punct / F.greatest(F.length(text_col), F.lit(1)) < 0.3)
    )


def quality_gate_sql(text: str = "text", toks_expr: str | None = None) -> str:
    """The quality gate as a DuckDB boolean fragment — the SQL twin
    of ``quality_flag_expr``, spliced into every oracle that applies
    the gate (TEXT_QUALITY_SQL, CORPUS_EPOCH_PLAN_SQL) so a future
    gate change can't silently desync one copy (ADVICE r13).
    ``toks_expr`` lets callers reuse a precomputed token-list column."""
    stop_list = ",".join(f"'{s}'" for s in STOPWORDS)
    toks = toks_expr or f"regexp_extract_all(lower({text}), '{TOKEN_RE}')"
    return (
        f"(length({text}) >= 50"
        f" AND len(list_filter({toks}, x -> x IN ({stop_list}))) * 1e0"
        f" / greatest(len({toks}), 1) > 0.05"
        f" AND len(regexp_extract_all({text}, '[^a-zA-Z0-9 ]')) * 1e0"
        f" / greatest(length({text}), 1) < 0.3)"
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean word length, punctuation /
    stopword / digit ratios, composite score."""
    docs = load_table(spark, sf_dir, "documents")
    stop = STOPWORDS
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_stop_hits = F.size(F.filter(toks, lambda t: t.isin(stop)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0))
    n_digit = F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), 0))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        fixed_point(F.length(F.regexp_replace("text", " ", "")) / F.greatest(n_tok, F.lit(1)), 4).alias("mean_word_len"),
        fixed_point(n_punct / F.greatest(F.length("text"), F.lit(1)), 4).alias("punct_ratio"),
        fixed_point(n_digit / F.greatest(F.length("text"), F.lit(1)), 4).alias("digit_ratio"),
        fixed_point(n_stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        quality_flag_expr(F.col("text")).cast("int").alias("passes_quality"),
    ).orderBy("doc_id")


TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit
  FROM documents
)
SELECT doc_id,
       length(text) AS n_chars_actual,
       len(toks) AS n_tokens,
       CAST(round((length(replace(text, ' ', '')) * 1e0 / greatest(len(toks), 1)) * 1e4) AS BIGINT) / 1e4 AS mean_word_len,
       CAST(round((n_punct * 1e0 / greatest(length(text), 1)) * 1e4) AS BIGINT) / 1e4 AS punct_ratio,
       CAST(round((n_digit * 1e0 / greatest(length(text), 1)) * 1e4) AS BIGINT) / 1e4 AS digit_ratio,
       CAST(round((len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','on'))) * 1e0
             / greatest(len(toks), 1)) * 1e4) AS BIGINT) / 1e4 AS stopword_ratio,
       CAST({quality_gate_sql('text', toks_expr='toks')} AS INT) AS passes_quality
FROM t ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: score each language by marker hits
    per token, argmax with deterministic tie-break, confusion counts
    vs the metadata lang column."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))

    def hit_count(markers):
        # NB: the lambda must take exactly one arg — a second arg
        # would be interpreted by Spark as the array index column
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("meta_lang"),
        *[hit_count(markers).alias(f"score_{lang}") for lang, markers in LANG_MARKERS.items()],
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in langs:  # first max wins (deterministic)
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return (
        scored.select("meta_lang", pred.alias("pred_lang"))
        .groupBy("meta_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("meta_lang", "pred_lang")
    )


_LANG_SCORE_SQL = ",\n".join(
    f"       len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS score_{lang}"
    for lang, markers in LANG_MARKERS.items()
)
_LANG_CASE_SQL = "CASE WHEN greatest(score_en, score_de, score_es, score_fr, score_zh) = 0 THEN 'unknown'\n" + "\n".join(
    f"            WHEN score_{lang} = greatest(score_en, score_de, score_es, score_fr, score_zh) THEN '{lang}'"
    for lang in LANG_MARKERS
) + "\n       END"

TEXT_LANGID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang AS meta_lang,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, meta_lang,
{_LANG_SCORE_SQL}
  FROM t
)
SELECT meta_lang,
       {_LANG_CASE_SQL} AS pred_lang,
       count(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY meta_lang, pred_lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint: md5 over the normalized
    token stream (case/punct/whitespace-insensitive identity), plus a
    16-hex-char prefix as a compact 60-bit key."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.array_join(_tokens(F.col("text")), " ")
    fp = F.md5(canon)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint_key"),
    ).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '')) AS fingerprint,
       ('0x' || substr(md5(coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '')), 1, 15))::BIGINT
         AS fingerprint_key
FROM documents ORDER BY doc_id
"""


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: top-20 terms with document frequency.
    explode → map-side-combinable count; at 100 TB this is the
    classic word-count shuffle, bounded by vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    return (
        tok.groupBy("term")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "term")
        .limit(20)
    )


TEXT_TOP_TERMS_SQL = """
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents)
GROUP BY term ORDER BY tf DESC, term LIMIT 20
"""


def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams (n-gram language statistics)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr("transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))")
        ).alias("bigram")
    )
    return bigrams.groupBy("bigram").agg(F.count("*").alias("n")).orderBy(F.desc("n"), "bigram").limit(20)


TEXT_BIGRAMS_SQL = """
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)]) AS bigram
  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
  WHERE len(toks) >= 2
)
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct counts next to exact ones.
    [rows-only: HLL estimates are engine-specific; the test asserts
    ≤5% relative error vs exact.]"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    ).orderBy("l_returnflag")


def text_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed cleaning pipeline (the operators are composable —
    this is the end-to-end shape a training-data pipeline runs):
    quality-filter → canonical dedup (keep smallest id) → per-source
    survivor stats."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9 ]"), 0))
    quality_ok = (F.length("text") >= 50) & (n_punct / F.greatest(F.length("text"), F.lit(1)) < 0.3)
    keyed = docs.filter(quality_ok).select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("k"),
    )
    survivors = keyed.withColumn(
        "is_dup", (F.col("doc_id") > F.min("doc_id").over(W.partitionBy("k"))).cast("int")
    ).filter(F.col("is_dup") == 0)
    return (
        survivors.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            fixed_avg_int(F.col("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


TEXT_CLEAN_PIPELINE_SQL = """
WITH keyed AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
         md5(coalesce(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' '), '')) AS k
  FROM documents
  WHERE length(text) >= 50
    AND len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1e0 / greatest(length(text), 1) < 0.3
), survivors AS (
  SELECT * FROM (
    SELECT doc_id, source, n_tokens,
           CAST(doc_id > min(doc_id) OVER (PARTITION BY k) AS INT) AS is_dup
    FROM keyed
  ) WHERE is_dup = 0
)
SELECT source, count(*) AS n_docs,
       CAST(round(sum(n_tokens) * 1e4 / count(n_tokens)) AS BIGINT) / 1e4 AS avg_tokens
FROM survivors GROUP BY source ORDER BY source
"""


WINNOW_K = 8  # char k-gram size
WINNOW_W = 4  # winnowing window (k-grams per window)


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing, MOSS-style):
    hash every char 8-gram of the canonical text, slide a 4-gram
    window and keep each window's min hash; the distinct mins are the
    doc's fingerprint set. Shared fingerprints between docs survive
    local edits — the classic plagiarism/near-dup signal. All
    JVM-side (sequence/transform/slice/array_min), zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.array_join(_tokens(F.col("text")), " ")
    base = docs.select("doc_id", canon.alias("c")).filter(
        F.length("c") >= WINNOW_K + WINNOW_W - 1
    )
    # positions are 1-based on both engines for substring
    hashes = F.expr(
        f"transform(sequence(1, length(c) - {WINNOW_K} + 1), "
        f"j -> cast(conv(substring(md5(substring(c, j, {WINNOW_K})), 1, 15), 16, 10) as bigint))"
    )
    mins = F.expr(
        f"array_distinct(transform(sequence(1, size(h) - {WINNOW_W} + 1), "
        f"i -> array_min(slice(h, i, {WINNOW_W}))))"
    )
    return (
        base.select("doc_id", hashes.alias("h"))
        .select("doc_id", mins.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


TEXT_WINNOW_SQL = f"""
WITH base AS (
  SELECT doc_id,
         coalesce(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' '), '') AS c
  FROM documents
), hashed AS (
  SELECT doc_id,
         [('0x' || substr(md5(substr(c, j, {WINNOW_K})), 1, 15))::BIGINT
          for j in generate_series(1, len(c) - {WINNOW_K} + 1)] AS h
  FROM base WHERE len(c) >= {WINNOW_K + WINNOW_W - 1}
), fps AS (
  SELECT doc_id,
         list_distinct([list_min(h[i:i+{WINNOW_W - 1}])
                        for i in generate_series(1, len(h) - {WINNOW_W} + 1)]) AS fp
  FROM hashed
)
SELECT doc_id, len(fp) AS n_fingerprints,
       list_min(fp) AS min_fp, list_max(fp) AS max_fp
FROM fps ORDER BY doc_id
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: per doc, the fraction
    of duplicated word trigrams (1 − distinct/total) and the most
    frequent single token's share of all tokens. High values flag
    low-quality/templated text for training-data filtering. Pure
    array expressions + one explode-aggregate — scales as the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    # PIN the tokenized base: the trigram branch and the exploded
    # top-token branch both consume it, and each re-runs the regexp
    # tokenizer in its pushed Filter AND its Project from the scan
    base = base.localCheckpoint(eager=True)
    tg = F.expr(
        "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
    )
    gram_stats = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        # fixed-point, not round(x,4): integer-ratio decimal ties (the
        # fuzz-1201 class) diverge across engines
        fixed_point(1.0 - F.size(F.array_distinct(tg)) / F.size(tg), 4).alias("dup_3gram_frac"),
    )
    top_tok = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(fixed_point(F.max("c") / F.sum("c"), 4).alias("top_token_frac"))
    )
    return (
        gram_stats.join(top_tok, "doc_id")
        .select("doc_id", "n_tokens", "dup_3gram_frac", "top_token_frac")
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), filtered AS (
  SELECT * FROM base WHERE len(toks) >= 3
), grams AS (
  SELECT doc_id, len(toks) AS n_tokens,
         [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
          for i in generate_series(1, len(toks) - 2)] AS tg
  FROM filtered
), gram_stats AS (
  SELECT doc_id, n_tokens,
         CAST(round((1.0 - len(list_distinct(tg)) * 1e0 / len(tg)) * 1e4) AS BIGINT) / 1e4 AS dup_3gram_frac
  FROM grams
), top_tok AS (
  SELECT doc_id, CAST(round((max(c) * 1e0 / sum(c)) * 1e4) AS BIGINT) / 1e4 AS top_token_frac
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM filtered) u
        GROUP BY doc_id, tok) g
  GROUP BY doc_id
)
SELECT g.doc_id, g.n_tokens, g.dup_3gram_frac, t.top_token_frac
FROM gram_stats g JOIN top_tok t ON g.doc_id = t.doc_id
ORDER BY g.doc_id
"""


# Deterministic fake-PII injection (identical construction on both
# engines) so the scrubber has real matches to find in the synthetic
# corpus; production would run the same scrub on raw text.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_URL_RE = "https?://[^ ]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pipeline: count + redact emails/URLs/phone
    numbers (regex in the common RE2/Java subset), emitting per-doc
    match counts and the md5 of the scrubbed text. All JVM-side
    regexp_count/regexp_replace — scales as the scan."""
    from .dedup import _spread

    # the regex chain is the most expensive per-row text kernel in
    # the repo; a single-file scan would run it all on one core
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" contact alice.smith@example.com now"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" visit https://data.example.org/docs today"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" call 555-123-4567 soon"))
        .otherwise(F.lit("")),
    )
    base = docs.select("doc_id", aug.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"), PII_URL_RE, "<URL>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return base.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_URL_RE)).alias("n_urls"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    ).orderBy("doc_id")


TEXT_PII_SCRUB_SQL = f"""
WITH base AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0 THEN ' contact alice.smith@example.com now'
                      WHEN doc_id % 5 = 1 THEN ' visit https://data.example.org/docs today'
                      WHEN doc_id % 5 = 2 THEN ' call 555-123-4567 soon'
                      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{PII_URL_RE}')) AS n_urls,
       len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_URL_RE}', '<URL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
FROM base ORDER BY doc_id
"""


LOGPROB_SCALE = 1_000_000  # token scores as exact scaled integers


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM scoring — the perplexity-proxy quality filter every
    training pipeline runs (CCNet/Gopher style, with the KenLM model
    replaced by the corpus's own unigram distribution): score each
    document by its average token negative-log-probability and flag
    the most surprising 10% for review.

    Scale: one explode + token-keyed count builds the LM (vocabulary
    is Zipf-bounded, so the dictionary side stays small relative to
    the corpus and AQE broadcasts it); one join + groupBy(doc) scores.
    Per-token scores are rounded to scaled INTEGERS before the
    per-doc sum, so no float summation order can perturb the result
    (doc score = exact integer sum / exact count).

    The cut-point is a quantile of the score distribution, so the
    flag rate self-tunes at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    lm = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # scalar corpus size via broadcast join, not a partitionBy()-less
    # window (which would drag the whole vocabulary to one partition)
    total = lm.agg(F.sum("cnt").alias("total"))
    # materialize the (small, Zipf-bounded) dictionary and the per-doc
    # scores: both are consumed twice below, and without lineage
    # truncation the explode+count subtree is re-shuffled per consumer
    lm_q = (
        lm.crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.round(-F.log(F.col("cnt") / F.col("total")) * LOGPROB_SCALE, 0)
            .cast("long")
            .alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    # 4-decimal half-up rounding of the EXACT rational sq/(scale*n)
    # in pure int64 arithmetic — round(double_ratio, 4) diverges
    # between engines when the double lands a hair off a .00005
    # boundary (r10 sf1 catch: doc with sq/14000 scoring 4.1199 in
    # Spark vs 4.1198 in DuckDB); (2a+b) div 2b never can
    scored = (
        toks.join(lm_q, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.expr(
                    f"(sq * 20000 + {LOGPROB_SCALE} * n_tokens)"
                    f" div (2 * {LOGPROB_SCALE} * n_tokens)"
                ).cast("long")
                / 10000.0
            ).alias("avg_neg_logprob"),
        )
        .localCheckpoint(eager=True)
    )
    cut = scored.agg(
        F.round(F.percentile("avg_neg_logprob", 0.9), 4).alias("cut")
    )
    return (
        scored.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_tokens",
            "avg_neg_logprob",
            (F.col("avg_neg_logprob") > F.col("cut")).alias("flag_surprising"),
        )
        .orderBy("doc_id")
    )


TEXT_UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
  FROM documents
), lm AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), lm_q AS (
  SELECT tok,
         CAST(round(-ln(cnt * 1e0 / (SELECT sum(cnt) FROM lm)) * {LOGPROB_SCALE}, 0) AS BIGINT) AS q
  FROM lm
), scored AS (
  -- exact int64 half-up 4-decimal rounding, mirroring the Spark face
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST((sum(q) * 20000 + {LOGPROB_SCALE} * count(*))
              // (2 * {LOGPROB_SCALE} * count(*)) AS BIGINT) / 1e4 AS avg_neg_logprob
  FROM toks JOIN lm_q USING (tok)
  GROUP BY doc_id
), cut AS (
  SELECT round(quantile_cont(avg_neg_logprob, 0.9), 4) AS cut FROM scored
)
SELECT doc_id, n_tokens, avg_neg_logprob, avg_neg_logprob > cut AS flag_surprising
FROM scored, cut
ORDER BY doc_id
"""


BIGRAM_LAMBDA = 0.75  # Jelinek-Mercer interpolation weight


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring — the KenLM-shaped upgrade of
    ``text_unigram_logprob``: score each document's token TRANSITIONS
    under p(b|a) = λ·c(a,b)/c(a) + (1−λ)·c(b)/T fitted on the corpus
    itself (Jelinek-Mercer smoothing, λ=0.75), report the per-doc
    average negative log-probability and flag the top decile.
    Repetitive/templated docs score low (their transitions dominate
    the LM); incoherent token soup scores high even when individual
    tokens are common — the signal the unigram filter cannot see.

    Scale: bigrams come straight off the token ARRAY (zip with its
    own tail — no posexplode+self-join); both LM tables are
    Zipf-bounded aggregations, joined back by key (AQE broadcasts
    the unigram side; the bigram join shuffles on the pair key).
    Per-transition scores are rounded to scaled integers before the
    per-doc sum (order-free), and the average uses the exact int64
    half-up pattern the unigram operator pinned at sf1. Docs with
    < 2 tokens carry zero transitions and survive via the left join
    (n_bigrams=0, score 0, never flagged)."""
    from .retrieval import _spread

    docs = _spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    arr = _tokens(F.col("text"))
    shifted = F.slice(arr, F.lit(2), F.greatest(F.size(arr) - 1, F.lit(0)))
    pair_arr = F.filter(
        F.zip_with(arr, shifted, lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
        lambda p: p["b"].isNotNull(),
    )
    toks = docs.select("doc_id", F.explode(arr).alias("tok"))
    bigr = docs.select("doc_id", F.explode(pair_arr).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("cnt")).localCheckpoint(eager=True)
    total = uni.agg(F.sum("cnt").alias("total"))
    blm = bigr.groupBy("a", "b").agg(F.count("*").alias("cab"))
    p_interp = (
        F.lit(BIGRAM_LAMBDA) * F.col("cab") / F.col("ca")
        + F.lit(1.0 - BIGRAM_LAMBDA) * F.col("cb") / F.col("total")
    )
    scored_tok = (
        bigr.join(blm, ["a", "b"])
        .join(uni.select(F.col("tok").alias("a"), F.col("cnt").alias("ca")), "a")
        .join(uni.select(F.col("tok").alias("b"), F.col("cnt").alias("cb")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(-F.log(p_interp) * LOGPROB_SCALE, 0).cast("long").alias("q"),
        )
    )
    scored = (
        scored_tok.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr(
                    f"(sq * 20000 + {LOGPROB_SCALE} * n_bigrams)"
                    f" div (2 * {LOGPROB_SCALE} * n_bigrams)"
                ).cast("long")
                / 10000.0
            ).alias("avg_neg_logprob"),
        )
        .localCheckpoint(eager=True)
    )
    cut = scored.agg(F.round(F.percentile("avg_neg_logprob", 0.9), 4).alias("cut"))
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias("avg_neg_logprob"),
            F.coalesce(F.col("avg_neg_logprob") > F.col("cut"), F.lit(False)).alias(
                "flag_surprising"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_BIGRAM_LOGPROB_SQL = f"""
WITH arrs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
), toks AS (
  SELECT doc_id, unnest(toks) AS tok FROM arrs
), bigr AS (
  SELECT doc_id, pr[1] AS a, pr[2] AS b FROM (
    SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS pr FROM arrs
  ) WHERE pr[2] IS NOT NULL
), uni AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), blm AS (
  SELECT a, b, count(*) AS cab FROM bigr GROUP BY a, b
), scored_tok AS (
  SELECT g.doc_id,
         CAST(round(-ln({BIGRAM_LAMBDA} * m.cab / ua.cnt
                        + {1.0 - BIGRAM_LAMBDA} * ub.cnt / (SELECT sum(cnt) FROM uni))
                    * {LOGPROB_SCALE}, 0) AS BIGINT) AS q
  FROM bigr g
  JOIN blm m ON g.a = m.a AND g.b = m.b
  JOIN uni ua ON g.a = ua.tok
  JOIN uni ub ON g.b = ub.tok
), scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST((sum(q) * 20000 + {LOGPROB_SCALE} * count(*))
              // (2 * {LOGPROB_SCALE} * count(*)) AS BIGINT) / 1e4 AS avg_neg_logprob
  FROM scored_tok GROUP BY doc_id
), cut AS (
  SELECT round(quantile_cont(avg_neg_logprob, 0.9), 4) AS cut FROM scored
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.avg_neg_logprob, 0.0) AS avg_neg_logprob,
       coalesce(s.avg_neg_logprob > cut.cut, false) AS flag_surprising
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id CROSS JOIN cut
ORDER BY d.doc_id
"""


CHUNK_TOKENS = 32  # RAG chunk window (documents avg ~54 tokens)
CHUNK_STRIDE = 24  # 8-token overlap between adjacent chunks


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed token windows
    (``CHUNK_TOKENS`` wide, every ``CHUNK_STRIDE`` tokens) with a
    content hash per chunk — the step between a cleaned corpus and a
    retrieval index / packed training sequences. A chunk starts at
    every stride boundary below the token count, so every token is
    covered and adjacent chunks overlap by ``CHUNK_TOKENS −
    CHUNK_STRIDE`` tokens.

    Integer-only plan (sequence → explode → slice → md5): no float
    enters the result, so the oracle hash is exact by construction.
    Scale: chunking is map-only over the documents scan (explode is
    linear per doc, no shuffle until the final sort) — at 100 TB it
    runs at parquet-scan speed like the rest of this module."""
    return _doc_chunks(spark, sf_dir).orderBy("doc_id", "chunk_start")


def _doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_chunk``'s build without the presentation sort — the
    shared face for composers (``chunk_boilerplate``) that aggregate
    the chunks and would otherwise pay a useless sort exchange."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).filter(
        F.col("n") > 0
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
    chunk = F.slice("toks", F.col("s") + 1, CHUNK_TOKENS)
    return base.select("doc_id", "toks", F.explode(starts).alias("s")).select(
        "doc_id",
        F.col("s").cast("long").alias("chunk_start"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def udtf_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_chunk`` through the Spark 4 PYTHON UDTF API: the same
    chunking semantics exposed as a registered SQL table function,
    consumed with a LATERAL join —

        SELECT doc_id, c.* FROM documents, LATERAL chunk_text(text) c

    Arrow-optimized UDTF (``useArrow=True``), one eval per document
    row yielding one row per chunk. The JVM ``doc_chunk`` plan is
    the production path (map-only, codegen'd); this face exists for
    the API surface — SQL users call the operator as a table
    function — and is gated against the SAME oracle, so both faces
    provably compute identical results."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import udtf

    from ..sources.readers import register_views

    @udtf(
        returnType="chunk_start long, n_chunk_tokens int, chunk_hash string",
        useArrow=True,
    )
    class ChunkText:
        def eval(self, text):
            toks = _re.findall(TOKEN_RE, (text or "").lower())
            for s in range(0, len(toks), CHUNK_STRIDE):
                chunk = toks[s : s + CHUNK_TOKENS]
                yield (
                    s,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    register_views(spark, sf_dir, names=("documents",))
    spark.udtf.register("chunk_text", ChunkText)
    return spark.sql(
        "SELECT doc_id, c.chunk_start, c.n_chunk_tokens, c.chunk_hash "
        "FROM documents, LATERAL chunk_text(text) AS c "
        "ORDER BY doc_id, chunk_start"
    )


DOC_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), starts AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS s
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(s AS BIGINT) AS chunk_start,
       CAST(len(toks[s + 1 : s + {CHUNK_TOKENS}]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(toks[s + 1 : s + {CHUNK_TOKENS}], ' ')) AS chunk_hash
FROM starts ORDER BY doc_id, chunk_start
"""


BOILER_MIN_DOCS = 2  # a chunk shared by >= this many docs is boilerplate


def chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at chunk granularity (the RefinedWeb /
    Gopher line-dedup move at window scale): a 32-token chunk whose
    content hash appears in >= ``BOILER_MIN_DOCS`` distinct documents
    is boilerplate (headers, footers, templated passages); emit each
    doc's chunk count, boilerplate-chunk count, and boilerplate
    fraction so a curation pass can drop or trim offenders.

    Scale: one hash shuffle on chunk_hash for document frequency;
    the boilerplate set is small by construction (it is the repeated
    tail), so the join back is broadcast-able at any corpus size.
    Integer-only outputs; the fraction uses the scale-0 fixed-point
    shape (int/int ratios have engine-divergent round(x, 4) ties)."""
    # PIN the chunk build (unsorted face): it feeds BOTH the df
    # aggregation and the join-back, and Catalyst additionally pushes
    # the join key's isnotnull below, re-deriving the tokenize →
    # slice → md5 pipeline per predicate per row. The checkpoint
    # materializes chunks once, full width.
    chunks = _doc_chunks(spark, sf_dir).localCheckpoint(eager=True)
    df = chunks.groupBy("chunk_hash").agg(F.countDistinct("doc_id").alias("df"))
    boiler = df.filter(F.col("df") >= BOILER_MIN_DOCS).select(
        "chunk_hash", F.lit(1).alias("is_boiler")
    )
    return (
        chunks.join(boiler, "chunk_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_boiler",
            (F.round(F.col("n_boiler") * 1e4 / F.col("n_chunks")).cast("long") / 1e4).alias(
                "boiler_frac"
            ),
        )
        .orderBy("doc_id")
    )


CHUNK_BOILERPLATE_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), starts AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS s
  FROM t WHERE len(toks) > 0
), ch AS (
  SELECT doc_id, md5(array_to_string(toks[s + 1 : s + {CHUNK_TOKENS}], ' ')) AS chunk_hash
  FROM starts
), df AS (
  SELECT chunk_hash, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1
), flagged AS (
  SELECT c.doc_id, CASE WHEN d.df >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END AS is_boiler
  FROM ch c JOIN df d USING (chunk_hash)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(is_boiler) AS BIGINT) AS n_boiler,
       CAST(round(sum(is_boiler) * 1e4 / count(*)) AS BIGINT) / 1e4 AS boiler_frac
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR ``@pandas_udf`` face — the one UDF shape the rest
    of the engine deliberately avoids (built-ins are 10-100× faster
    for expressible logic) but that real pipelines need for model
    scoring and library calls: an Arrow-batched Series→Series UDF
    computing whitespace token counts and ASCII-letter counts with
    vectorized pandas string ops. Hash-gated against plain SQL, and
    a pytest pins row-equality with the pure-JVM formulation — the
    documented proof of WHEN the Python face is exchangeable.

    Scale: Arrow transfers columnar batches (no per-row pickling);
    the UDF is a map-side projection — no shuffle, no state."""
    ws_tokens, ascii_letters = _pandas_scalar_udfs()
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_tokens("text").alias("n_ws_tokens"),
        ascii_letters("text").alias("n_letters"),
    ).orderBy("doc_id")


# one live context at a time
_PANDAS_SCALAR_UDFS = SessionCache(1)


def _pandas_scalar_udfs():
    """The two scalar pandas UDFs, defined once per SPARK APPLICATION
    (lazily — ``pandas_udf`` resolves its DDL return type against an
    ACTIVE SparkContext, so definition can't happen at import, and a
    UDF's lazily-bound _judf dies with its context): nullable Int32
    (capital I) because NULL text yields NaN from the pandas string
    ops and plain .astype("int32") would raise — the extension dtype
    round-trips NULL through Arrow exactly like the JVM built-ins do
    (NULL in → NULL out; pinned in tests)."""
    from pyspark.sql.functions import pandas_udf

    def build():
        @pandas_udf("int")
        def ws_tokens(s: pd.Series) -> pd.Series:
            return s.str.split(" ").str.len().astype("Int32")

        @pandas_udf("int")
        def ascii_letters(s: pd.Series) -> pd.Series:
            return s.str.count(r"[A-Za-z]").astype("Int32")

        return ws_tokens, ascii_letters

    return _PANDAS_SCALAR_UDFS.get_or_build(SparkSession.getActiveSession(), build)


UDF_PANDAS_SCALAR_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INT) AS n_letters
FROM documents ORDER BY doc_id
"""


QUERIES = {
    "udf_pandas_scalar": udf_pandas_scalar,
    "doc_chunk": doc_chunk,
    "udtf_doc_chunk": udtf_doc_chunk,
    "chunk_boilerplate": chunk_boilerplate,
    "text_unigram_logprob": text_unigram_logprob,
    "text_bigram_logprob": text_bigram_logprob,
    "text_winnow_fingerprint": text_winnow_fingerprint,
    "text_repetition": text_repetition,
    "text_pii_scrub": text_pii_scrub,
    "text_clean_pipeline": text_clean_pipeline,
    "text_tokens": text_tokens,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_top_terms": text_top_terms,
    "text_bigrams": text_bigrams,
    "q_approx_distinct": q_approx_distinct,
}

ORACLES = {
    "udf_pandas_scalar": UDF_PANDAS_SCALAR_SQL,
    "doc_chunk": DOC_CHUNK_SQL,
    # same semantics through the Python UDTF face -> same oracle
    "udtf_doc_chunk": DOC_CHUNK_SQL,
    "chunk_boilerplate": CHUNK_BOILERPLATE_SQL,
    "text_unigram_logprob": TEXT_UNIGRAM_LOGPROB_SQL,
    "text_bigram_logprob": TEXT_BIGRAM_LOGPROB_SQL,
    "text_winnow_fingerprint": TEXT_WINNOW_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "text_pii_scrub": TEXT_PII_SCRUB_SQL,
    "text_clean_pipeline": TEXT_CLEAN_PIPELINE_SQL,
    "text_tokens": TEXT_TOKENS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_top_terms": TEXT_TOP_TERMS_SQL,
    "text_bigrams": TEXT_BIGRAMS_SQL,
}
