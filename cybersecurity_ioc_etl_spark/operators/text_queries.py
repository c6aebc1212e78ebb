"""Text-analysis operators over `documents` — the LLM-data-pipeline
surface (BASELINE.json north star): token counting, quality scoring,
language-ID heuristic, document fingerprinting.  All JVM-native
expressions (no UDFs) so they run inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import FEED_CTE_SQL, load_table
from . import dedup as _dedup
from .registry import query

# tiny embedded stopword lists for the language-ID heuristic; the fixture
# corpus is synthetic English-ish word salad, so the interesting property
# is determinism, not linguistic accuracy.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "it")

_TOKENIZE_SQL = "str_split_regex(trim(text), '\\s+')"


def tokens(text: Column) -> Column:
    """Whitespace tokenizer — split on runs of whitespace after trim."""
    return F.split(F.trim(text), r"\s+")


@query(
    "doc_token_stats",
    oracle=f"""
SELECT doc_id,
  len({_TOKENIZE_SQL}) AS n_tokens,
  length(text) AS n_chars_measured,
  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_TOKENIZE_SQL}) AS avg_token_len,
  len(list_distinct({_TOKENIZE_SQL})) AS n_unique_tokens
FROM documents
""",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star text op): token count, average token
    length, vocabulary size per document."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


@query(
    "doc_quality",
    oracle=f"""
SELECT doc_id,
  len({_TOKENIZE_SQL}) AS n_tokens,
  CAST(len(list_filter({_TOKENIZE_SQL},
        t -> list_contains(['the','a','and','of','to','in','is','for','on','it'], t)))
       AS DOUBLE) / len({_TOKENIZE_SQL}) AS stopword_ratio,
  CAST(len(list_distinct({_TOKENIZE_SQL})) AS DOUBLE) / len({_TOKENIZE_SQL}) AS ttr
FROM documents
WHERE len({_TOKENIZE_SQL}) >= 5
""",
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + type-token ratio, with a minimum
    length gate (the classic pretraining-corpus filter shape)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            (n_stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        )
        .filter(F.col("n_tokens") >= 5)
    )


@query(
    "doc_lang_stats",
    oracle=f"""
SELECT lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
  CAST(SUM(len({_TOKENIZE_SQL})) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents
GROUP BY lang, source
""",
)
def q_doc_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        (F.sum(F.size(toks).cast("bigint")).cast("double") / F.count("*")).alias(
            "avg_tokens"
        ),
    )


@query(
    "doc_lang_id",
    oracle=f"""
SELECT doc_id, lang AS labeled_lang,
  CASE WHEN len(list_filter({_TOKENIZE_SQL},
         t -> list_contains(['the','a','and','of','to','in','is','for','on','it'], t))) * 5
            >= len({_TOKENIZE_SQL})
       THEN 'en' ELSE 'unknown' END AS detected_lang
FROM documents
""",
)
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (north-star): stopword-density vote.  A real
    deployment swaps the stopword table per language; the operator shape
    (array_filter density over tokens) is the scalable part."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(n_stop * 5 >= F.size(toks), F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("detected_lang"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
SELECT doc_id, {_dedup._FP_SQL} AS fingerprint
FROM documents
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace/ASCII-case-normalized md5 —
    the exact content-hash used by the exact-dedup operator (shared
    helper; see dedup._FP_SQL for why the case fold is ASCII-only)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    return d.select("doc_id", _dedup.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "doc_shingle_profile",
    oracle="""
SELECT doc_id,
  len(list_distinct([substring(text, i, 8)
                     for i in range(1, length(text) - 6)])) AS n_shingles,
  length(text) AS n_chars_measured
FROM documents
WHERE length(text) >= 8
""",
)
def q_doc_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 8-gram shingle cardinality per doc — the shingling stage
    under MinHash/Jaccard dedup, as a native sequence+transform expression."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 7),
            lambda i: F.substring(F.col("text"), i, F.lit(8)),
        )
    )
    return (
        d.filter(F.length("text") >= 8)
        .select(
            "doc_id",
            F.size(shingles).cast("long").alias("n_shingles"),
            F.length("text").cast("long").alias("n_chars_measured"),
        )
    )


# BPE-ish piece regex: alpha runs | digit runs | single punctuation.
# ASCII classes only — identical semantics in Java regex (Spark) and RE2
# (DuckDB).  Long alpha runs count ceil(len/4) subword tokens (the ~4
# chars/token heuristic of byte-pair vocabularies); everything else is 1.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_BPE_SQL = f"""
list_sum(list_transform(regexp_extract_all(text, '{_BPE_RE}'),
  p -> CASE WHEN regexp_matches(p, '^[A-Za-z]+$')
            THEN CAST(ceil(length(p) / 4.0) AS BIGINT) ELSE 1 END))
"""


@query(
    "doc_bpe_token_estimate",
    oracle=f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_BPE_RE}')) AS n_pieces,
  CAST(COALESCE({_BPE_SQL}, 0) AS BIGINT) AS est_bpe_tokens,
  CAST(length(text) AS DOUBLE) / COALESCE({_BPE_SQL}, 1) AS chars_per_token
FROM documents
""",
)
def q_doc_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token estimation (north-star text op): pre-tokenizer
    pieces via one regex pass, subword estimate from the chars/token
    heuristic — the budget arithmetic of LLM corpus curation, kept
    entirely in codegen (no tokenizer library in the hot path)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    est = F.aggregate(
        F.transform(
            pieces,
            lambda p: F.when(
                p.rlike("^[A-Za-z]+$"), F.ceil(F.length(p) / 4.0)
            ).otherwise(F.lit(1).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return d.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        # coalesce mirrors the oracle: NULL text -> 0 estimated tokens
        F.coalesce(est, F.lit(0).cast("bigint")).alias("est_bpe_tokens"),
        (
            F.length("text").cast("double")
            / F.when(est > 0, est).otherwise(F.lit(1))
        ).alias("chars_per_token"),
    )


@query(
    "top_terms",
    oracle=f"""
SELECT tok, COUNT(*) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM (SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok FROM documents)
GROUP BY tok
ORDER BY tf DESC, tok
LIMIT 25
""",
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: term frequency + document frequency, top 25.
    explode → two-level agg with map-side combine → TakeOrderedAndProject;
    at 100 TB the exact form is replaced by count-min sketch per
    partition + merge, same plan skeleton."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").cast("bigint").alias("df"),
        )
        .orderBy(F.col("tf").desc(), "tok")
        .limit(25)
    )


@query(
    "tfidf_top_terms_per_doc",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok
  FROM documents WHERE doc_id < 50
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
scored AS (
  SELECT tf.doc_id, tf.tok,
    round(tf.tf * ln((SELECT n FROM n) / CAST(df.df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok
)
SELECT doc_id, tok, tfidf FROM (
  SELECT doc_id, tok, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
  FROM scored
) WHERE rn <= 3
""",
)
def q_tfidf_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency × inverse document frequency, top-3 terms
    per document.  The document-frequency table is tiny relative to the
    corpus → broadcast onto the tf table; the per-doc top-3 is a
    row_number window on the doc_id shuffle.  ln() on identical doubles
    is the one libm call both engines share; the result is rounded at
    1e-6, far above any last-ulp divergence."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = toks.select(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df").cast("double")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


# --- PII scrubbing (redaction — the flip side of extraction) --------------

# Redaction patterns: defang-tolerant, no lookarounds, valid in both Java
# regex (Spark) and RE2 (DuckDB oracle).
_SCRUB_EMAIL = r"(mailto:)?[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+(\[\.\]|\.)[A-Za-z]{2,}"
_SCRUB_IP = r"(\d{1,3}(\[\.\]|\.)){3}\d{1,3}"
_SCRUB_HASH = r"[a-fA-F0-9]{32,64}"


def scrub_pii(body: Column) -> Column:
    """Redact emails, IPs, and hash-like tokens in one codegen'd pass
    chain — what a training pipeline runs over raw web text before the
    corpus ships.  Same kernel patterns as extraction (functions/ioc.py),
    applied as replacement instead of findall."""
    out = F.regexp_replace(body, _SCRUB_EMAIL, "[EMAIL]")
    out = F.regexp_replace(out, _SCRUB_IP, "[IP]")
    return F.regexp_replace(out, _SCRUB_HASH, "[HASH]")


@query(
    "doc_pii_scrub",
    oracle=f"""
WITH {FEED_CTE_SQL},
scrubbed AS (
  SELECT source, body,
    regexp_replace(regexp_replace(regexp_replace(body,
      '{_SCRUB_EMAIL}', '[EMAIL]', 'g'),
      '{_SCRUB_IP}', '[IP]', 'g'),
      '{_SCRUB_HASH}', '[HASH]', 'g') AS clean,
    len(regexp_extract_all(body, '{_SCRUB_EMAIL}')) AS n_emails,
    len(regexp_extract_all(body, '{_SCRUB_IP}')) AS n_ips
  FROM feed
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
  CAST(SUM(n_ips) AS BIGINT) AS ips_redacted,
  CAST(SUM(length(body) - length(clean)) AS BIGINT) AS chars_removed
FROM scrubbed
GROUP BY source
""",
)
def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit per source: scrub emails/IPs/hashes from the
    feed bodies, count redactions and bytes removed.  One narrow pass —
    the three regexp_replace calls fuse into a single codegen stage, so
    at 100 TB this is scan-bound, not CPU-bound; the audit agg is the
    only shuffle.  fan_out ahead of the regex stage per the measured
    rule (fan-out only before CPU-bound stages): redaction is CPU-heavy
    on skinny inputs."""
    from ..sources.readers import synthetic_feed

    feed = synthetic_feed(spark, sf_dir)
    body = F.col("body")
    return (
        feed.select(
            "source",
            (F.length(body) - F.length(scrub_pii(body))).alias("removed"),
            F.size(F.regexp_extract_all(body, F.lit(_SCRUB_EMAIL), 0)).alias("ne"),
            F.size(F.regexp_extract_all(body, F.lit(_SCRUB_IP), 0)).alias("ni"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ne").cast("bigint").alias("emails_redacted"),
            F.sum("ni").cast("bigint").alias("ips_redacted"),
            F.sum("removed").cast("bigint").alias("chars_removed"),
        )
    )


@query(
    "doc_tf_map",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok
  FROM documents WHERE doc_id < 200
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
  COUNT(*) AS n_entries,
  MAX(cnt) AS max_tf,
  MIN(tok) FILTER (WHERE cnt = (SELECT MAX(t2.cnt) FROM tf t2
                                WHERE t2.doc_id = tf.doc_id)) AS top_token
FROM tf GROUP BY doc_id
""",
)
def q_doc_tf_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency MAP column (MapType — SURVEY §1.2's 'genuinely
    dynamic keys' case): build tok→count maps per document, then derive
    scalars with the map-function family (map_from_entries, map_values,
    map_keys, map_filter) — all JVM-side higher-order expressions.  The
    oracle computes the same scalars relationally, so the map round-trip
    must be lossless.  Ties on max_tf resolve to the lexicographically
    first token in both engines."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    mapped = tf.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "cnt"))).alias("tfmap")
    )
    maxv = F.array_max(F.map_values("tfmap"))
    top = F.array_min(
        F.map_keys(F.map_filter("tfmap", lambda k, v: v == maxv))
    )
    return mapped.select(
        "doc_id",
        F.size("tfmap").cast("bigint").alias("n_entries"),
        maxv.alias("max_tf"),
        top.alias("top_token"),
    )


@query(
    "inverted_index_postings",
    oracle=f"""
WITH postings AS (
  SELECT tok, doc_id
  FROM (SELECT doc_id, unnest(list_distinct({_TOKENIZE_SQL})) AS tok
        FROM documents)
  WHERE length(tok) >= 4
)
SELECT tok AS term, COUNT(*) AS df,
  array_to_string(list_sort(list(doc_id)), ',') AS posting_list
FROM postings GROUP BY tok
HAVING COUNT(*) BETWEEN 2 AND 1000
""",
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term → sorted posting list of documents
    containing it (the retrieval-index shape behind BM25 / dedup-by-term
    lookups).  One distinct-tokens explode, one shuffle on term.

    Scale shape: list_distinct BEFORE the explode caps postings at one
    per (term, doc); the df ceiling (1000) drops stop-terms whose posting
    lists would otherwise concentrate the corpus onto single reducers —
    the standard skew guard for index builds (high-df terms carry no
    retrieval signal anyway).  Postings serialize as a delimited string
    for the oracle hash; a production sink would keep the sorted
    array<bigint> column as-is."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = (
        d.select(
            "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
        )
        .filter(F.length("tok") >= 4)
    )
    return (
        toks.groupBy(F.col("tok").alias("term"))
        .agg(
            F.count("*").alias("df"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "posting_list"
            ),
        )
        .filter(F.col("df").between(2, 1000))
    )


@query(
    "bigram_conditional_probs",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKENIZE_SQL} AS t FROM documents),
big AS (
  SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i AS INTEGER) + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
pairs AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(n_pair) AS n_ctx FROM pairs GROUP BY 1)
SELECT p.w1, p.w2, p.n_pair, CAST(c.n_ctx AS BIGINT) AS n_ctx,
  round(CAST(p.n_pair AS DOUBLE) / CAST(c.n_ctx AS BIGINT), 6) AS cond_p
FROM pairs p JOIN ctx c USING (w1)
WHERE p.n_pair >= 5
""",
)
def q_bigram_conditional_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts: P(w2|w1) over the corpus — the
    n-gram statistic under next-token heuristics, corpus perplexity
    proxies, and boilerplate detection.  Bigrams come from zipping each
    token array with its own tail (in-place, no UDF, no shuffle until
    the count agg); context totals derive from the PAIR counts (sum per
    w1), so the corpus shuffles once and the probability is one exact
    int÷int per surviving row.  Both engines round the identical double
    once."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
    )
    big = d.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    pairs = big.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    ctx = pairs.groupBy(F.col("w1").alias("cw1")).agg(
        F.sum("n_pair").alias("n_ctx")
    )
    return (
        pairs.filter(F.col("n_pair") >= 5)
        .join(ctx, pairs["w1"] == ctx["cw1"])
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_ctx",
            F.round(F.col("n_pair").cast("double") / F.col("n_ctx"), 6).alias(
                "cond_p"
            ),
        )
    )


@query(
    "doc_length_histogram",
    oracle="""
SELECT CAST(FLOOR(LOG2(GREATEST(n_chars, 1))) AS BIGINT) AS log2_bucket,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS bucket_chars,
  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
  CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY log2_bucket
""",
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the first plot every
    corpus audit draws (truncation points, boilerplate spikes, length
    filters all read off it).  The bucket id is floor(log2(n_chars)) on
    INTEGER lengths: log2 of an exact integer then floor is stable in
    IEEE doubles across engines (no fractional inputs near bucket
    edges), and the min/max columns prove bucket boundaries landed
    identically.  Pure map + one tiny agg — scan-bound at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1)))).cast(
        "bigint"
    )
    return d.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bucket_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@query(
    "doc_repetition_scores",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
    {_TOKENIZE_SQL} AS toks,
    [array_to_string(list_slice({_TOKENIZE_SQL}, i, i + 2), chr(1))
     for i in range(1, len({_TOKENIZE_SQL}) - 1)] AS tri
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct_tokens,
  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
    AS dup_token_frac,
  len(tri) AS n_trigrams,
  len(tri) - len(list_distinct(tri)) AS n_dup_trigram_instances,
  round(CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
        / GREATEST(len(tri), 1), 6) AS rep3_frac
FROM base
""",
)
def q_doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics — the Gopher-rules quality
    family (repetitious documents are low-value training data): duplicate
    -token fraction and the fraction of word-3-gram INSTANCES that are
    repeats of an earlier 3-gram in the same document.

    Scale shape: pure per-row array expressions (size/array_distinct over
    the token and shingle arrays) — zero shuffle, whole-stage codegen end
    to end; the natural pre-filter stage ahead of the corpus-wide dedup
    passes.  GREATEST(n,1) guards the short-doc empty shingle list
    identically in both engines."""
    toks = tokens(F.col("text"))
    # NON-distinct 3-gram instances (dedup._word_shingles dedups; here
    # the repeats ARE the signal).  Guards are load-bearing, in order:
    # NULL text must NULL-propagate (greatest() SKIPS a NULL size, so
    # the sequence would fabricate phantom trigrams — null_probe
    # finding); and a doc with <3 tokens must yield an EMPTY list —
    # sequence(0, size-3) for size<3 is a DESCENDING [0,..] sequence
    # whose toks[i+2] lookups crash under ANSI array indexing
    # (unicode_probe finding: whitespace-free CJK text is one token).
    tri = (
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(F.size(toks) < 3, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws("\x01", toks[i], toks[i + 1], toks[i + 2]),
            )
        )
    )
    n_tok = F.size(toks)
    n_dtok = F.size(F.array_distinct(toks))
    n_tri = F.size(tri)
    n_dup = n_tri - F.size(F.array_distinct(tri))
    return load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dtok.cast("long").alias("n_distinct_tokens"),
        F.round(F.lit(1.0) - n_dtok.cast("double") / n_tok, 6).alias(
            "dup_token_frac"
        ),
        n_tri.cast("long").alias("n_trigrams"),
        n_dup.cast("long").alias("n_dup_trigram_instances"),
        F.round(n_dup.cast("double") / F.greatest(n_tri, F.lit(1)), 6).alias(
            "rep3_frac"
        ),
    )


@query(
    "tfidf_doc_similarity_pairs",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok
        FROM documents WHERE doc_id < 80)
  GROUP BY doc_id, tok
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
w AS (
  SELECT t.doc_id, t.tok, t.tf * (10000000 // d.df) AS wi
  FROM tf t JOIN df d USING (tok)
  WHERE d.df <= 1000
),
norms AS (SELECT doc_id, SUM(wi * wi) AS sq FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.wi * b.wi) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))), 6)
    AS cosine_sim
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
ORDER BY cosine_sim DESC, doc_a, doc_b LIMIT 20
""",
)
def q_tfidf_doc_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TEXT similarity through the inverted index: tf-idf-weighted
    cosine between documents, pairs generated by a POSTING-LIST join on
    the term (documents only meet where they share a term) — the sparse
    complement of the dense-embedding ANN family.  The idf factor is the
    integer 1e7 div df (monotone in 1/df, exact in both engines — ln()
    is not guaranteed bit-identical across engines); dots and norms
    accumulate exact int64 products and convert to double once.

    Scale shape: the pair space is bounded by the posting join's term
    fan-out, and the df cap (<= 1000, as in inverted_index_postings) is
    the skew guard — a stop-term with a million-doc posting list would
    otherwise generate a quadratic bucket on one reducer; dropping
    high-df terms loses no signal (their idf weight is ~0 anyway).
    Shuffles: tf count, posting self-join keyed on term, (doc_a, doc_b)
    partial-sum — all map-side combined; top-20 is
    TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    dots, norms = tfidf_posting_dots(d)
    cos = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("na.sq").cast("double"))
            * F.sqrt(F.col("nb.sq").cast("double"))
        ),
        6,
    )
    return (
        dots.join(F.broadcast(norms.alias("na")), F.col("doc_a") == F.col("na.doc_id"))
        .join(F.broadcast(norms.alias("nb")), F.col("doc_b") == F.col("nb.doc_id"))
        .select("doc_a", "doc_b", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "doc_a", "doc_b")
        .limit(20)
    )


def tfidf_posting_dots(
    d: DataFrame, df_cap: int = 1000
) -> tuple[DataFrame, DataFrame]:
    """The posting-join core of ``tfidf_doc_similarity_pairs`` on a
    plain (doc_id, text) frame: returns (dots, norms) where dots is one
    row per document pair sharing at least one surviving term.  The
    join's instance count equals Σ df·(df-1)/2 of surviving terms
    (pinned in tests/test_text_queries.py), so pair work tracks the
    posting fan-out, with ``df_cap`` the skew lever that drops stop-terms
    before they concentrate a quadratic bucket on one reducer."""
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = tf.join(F.broadcast(df_t.filter(F.col("df") <= df_cap)), "tok").select(
        "doc_id", "tok", F.expr("tf * (10000000 div df)").alias("wi")
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wi") * F.col("wi")).alias("sq"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.wi") * F.col("b.wi")).alias("dot"))
    )
    return dots, norms


# ---------------------------------------------------------------------------
# Corpus token-budget accounting
# ---------------------------------------------------------------------------

_TOKEN_BUDGET_ORACLE = f"""
WITH per_doc AS (
  SELECT source, lang,
    COALESCE({_BPE_SQL}, 0) AS est
  FROM documents
),
tot AS (SELECT SUM(est) AS t FROM per_doc)
SELECT source, lang,
  COUNT(*) AS n_docs,
  CAST(SUM(est) AS BIGINT) AS est_tokens,
  CAST(SUM(est) AS DOUBLE) / tot.t AS corpus_share
FROM per_doc, tot
GROUP BY source, lang, tot.t
"""


@query("corpus_token_budget", oracle=_TOKEN_BUDGET_ORACLE)
def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget ledger: estimated BPE tokens per (source, lang) cell
    with each cell's share of the whole corpus — the first table any
    pretraining-data owner asks for ('how many tokens do I have, and
    where from?'), and the input to mixture design (source_mixture_
    sample's keep-rates are set against exactly these shares).

    Scale shape: the per-doc estimate is the doc_bpe_token_estimate
    regex fold (one codegen pass, fan-out for the CPU-bound regex); the
    ledger is one map-side-combined aggregation on (source, lang), and
    the 1-row corpus total broadcasts into the share division — exact
    integer sums both sides, one correctly-rounded division at the
    end."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    est = F.coalesce(
        F.aggregate(
            F.transform(
                pieces,
                lambda p: F.when(
                    p.rlike("^[A-Za-z]+$"), F.ceil(F.length(p) / 4.0)
                ).otherwise(F.lit(1).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
        F.lit(0).cast("bigint"),
    )
    per_doc = d.select("source", "lang", est.alias("est"))
    cell = per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("est").alias("est_tokens")
    )
    tot = per_doc.agg(F.sum("est").alias("t"))
    return cell.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        F.col("est_tokens").cast("bigint").alias("est_tokens"),
        (F.col("est_tokens").cast("double") / F.col("t")).alias("corpus_share"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy-hitter audit — a sketch made cross-engine EXACT
# ---------------------------------------------------------------------------

_CM_D = 4  # hash rows
_CM_W = 256  # counters per row

_CM_HASH_SQL = (
    _dedup._SHINGLE_INT_SQL.format(
        x="concat(CAST({i} AS VARCHAR), ':', {tok})"
    )
    + f" % {_CM_W}"
)

_CM_AUDIT_ORACLE = f"""
WITH tok AS (
  SELECT unnest(str_split_regex(
    {_dedup._ASCII_FOLD_SQL.format(x='trim(text)')}, '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
htok AS (
  SELECT tok, r.i AS i, {_CM_HASH_SQL.format(i='r.i', tok='tok')} AS b
  FROM tok CROSS JOIN range({_CM_D}) r(i)
),
sketch AS (SELECT i, b, COUNT(*) AS c FROM htok GROUP BY 1, 2),
exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT 20
),
aud AS (
  SELECT e.tok, e.exact_n, r.i AS i,
    {_CM_HASH_SQL.format(i='r.i', tok='e.tok')} AS b
  FROM exact e CROSS JOIN range({_CM_D}) r(i)
),
est AS (
  SELECT a.tok, a.exact_n, MIN(s.c) AS est_n
  FROM aud a JOIN sketch s ON a.i = s.i AND a.b = s.b
  GROUP BY 1, 2
)
SELECT tok AS token, exact_n, est_n, est_n - exact_n AS overcount
FROM est
"""


def _cm_buckets(t: Column) -> Column:
    """The d deterministic md5-prefix bucket hashes of one token —
    shared by the batch audit and the streaming merge so both build the
    bit-identical sketch."""
    return F.array(
        *[
            _dedup._shingle_int(F.concat(F.lit(str(i)), F.lit(":"), t))
            % _CM_W
            for i in range(_CM_D)
        ]
    )


def cm_token_partials(docs: DataFrame) -> DataFrame:
    """(i, b, c) count-min partial census of a document batch's token
    stream — associative: partials from any micro-batching sum to the
    corpus sketch."""
    tok = docs.filter(F.col("text").isNotNull()).select(
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )
    htok = tok.select(F.posexplode(_cm_buckets(F.col("tok"))).alias("i", "b"))
    return htok.groupBy(
        F.col("i").cast("bigint").alias("i"), "b"
    ).agg(F.count("*").alias("c"))


@query("countmin_token_audit", oracle=_CM_AUDIT_ORACLE)
def q_countmin_token_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream, audited against exact counts for the top-20 tokens —
    and, unlike the HLL/GK bound-audits, the sketch itself is
    HASH-CHECKED: its d=4 hash rows are deterministic md5-prefix
    functions (the engine's portable-hash discipline), so DuckDB builds
    the bit-identical d×w counter table and the estimates — not just a
    bound boolean — must match.  est ≥ exact always (CM only
    overcounts); the emitted overcount column is the per-token audit of
    the ε = e/w guarantee.

    Scale shape: the sketch is d·w = 1024 counters — a map-side
    combined groupBy(i, bucket) count whose shuffle carries at most d·w
    rows per partition regardless of corpus size; that fixed footprint
    is why CM is THE heavy-hitter structure for 100 TB token streams
    (the exact side here is the audit's calibration, affordable because
    the audited slice is top-k, not the vocabulary).  The sketch side
    broadcasts into the audit join."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    tok = d.select(
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )

    htok = tok.select(F.posexplode(_cm_buckets(F.col("tok"))).alias("i", "b"))
    sketch = htok.groupBy("i", "b").agg(F.count("*").alias("c"))
    exact = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )
    aud = exact.select(
        "tok", "exact_n", F.posexplode(_cm_buckets(F.col("tok"))).alias("i", "b")
    )
    est = (
        aud.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        F.col("tok").alias("token"),
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the mergeable frequent-items summary,
# order-independent canonical form (completes the sketch-merge family:
# KMV ∪, HLL MAX, count-min +, AMS +, quantile-summary weighted union)
# ---------------------------------------------------------------------------

_MG_M = 16  # summary capacity (counters kept per summary)

_MG_TIE_SQL = _dedup._SHINGLE_INT_SQL.format(x="tok")


def _mg_shard_sql(n_shards: int) -> str:
    return (
        _dedup._SHINGLE_INT_SQL.format(x="CAST(doc_id AS VARCHAR)")
        + f" % {n_shards}"
    )


def _mg_oracle_sql(n_shards: int) -> str:
    """The canonical-MG shard-merge oracle, parameterized by shard
    count — 2 for the batch audit, 4 for the streaming merge (the
    one-shot symmetric merge's error law Σ d_shard + d_final holds for
    any fan-in, Agarwal et al. 2013 §3)."""
    return f"""
WITH tok AS (
  SELECT {_mg_shard_sql(n_shards)} AS shard,
    unnest(str_split_regex(
      {_dedup._ASCII_FOLD_SQL.format(x='trim(text)')}, '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
exact AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
sc AS (SELECT shard, tok, COUNT(*) AS f FROM tok GROUP BY 1, 2),
dd AS (
  SELECT shard, f AS d FROM (
    SELECT shard, f, row_number() OVER (
      PARTITION BY shard ORDER BY f DESC, {_MG_TIE_SQL}) AS rn
    FROM sc)
  WHERE rn = {_MG_M + 1}
),
summ AS (
  SELECT s.tok, s.f - COALESCE(d.d, 0) AS c
  FROM sc s LEFT JOIN dd d ON s.shard = d.shard
  WHERE s.f > COALESCE(d.d, 0)
),
merged0 AS (SELECT tok, SUM(c) AS g FROM summ GROUP BY tok),
d3 AS (
  SELECT g AS d FROM (
    SELECT g, row_number() OVER (ORDER BY g DESC, {_MG_TIE_SQL}) AS rn
    FROM merged0)
  WHERE rn = {_MG_M + 1}
),
errb AS (
  SELECT (SELECT COALESCE(SUM(d), 0) FROM dd)
       + COALESCE((SELECT d FROM d3), 0) AS err_bound
),
hh AS (
  SELECT tok, g - COALESCE((SELECT d FROM d3), 0) AS est
  FROM merged0 WHERE g > COALESCE((SELECT d FROM d3), 0)
),
missed AS (
  SELECT COUNT(*) AS n_missed_heavy
  FROM exact e, errb b
  WHERE e.f > b.err_bound AND e.tok NOT IN (SELECT tok FROM hh)
)
SELECT h.tok AS token,
  CAST(h.est AS BIGINT) AS est_count,
  CAST(e.f AS BIGINT) AS exact_count,
  CAST(b.err_bound AS BIGINT) AS err_bound,
  (h.est <= e.f AND e.f <= h.est + b.err_bound) AS bound_ok,
  CAST(m.n_missed_heavy AS BIGINT) AS n_missed_heavy
FROM hh h JOIN exact e ON h.tok = e.tok, errb b, missed m
"""


_MG_ORACLE = _mg_oracle_sql(2)


def mg_tokens(docs: DataFrame) -> DataFrame:
    """The MG token stream of a document frame — ascii-folded
    whitespace tokens (the countmin/KMV tokenizer discipline)."""
    return docs.filter(F.col("text").isNotNull()).select(
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok")
    )


def mg_partial(tok: DataFrame, sentinel: bool = False) -> DataFrame:
    """Canonical Misra-Gries summary of ONE token frame, capacity
    m = ``_MG_M``: exact counts, truncation offset d = the (m+1)-th
    largest count (md5 tie-break, 0 when distinct keys <= m), counters
    c = f − d for f > d.  Emits (tok, c, d) with the offset repeated per
    row so a partial is self-describing for the merge law.

    sentinel=True (ADVICE r10): a degenerate frame whose top m+1 counts
    all tie has NO row with f > d, so the partial would be empty and its
    offset d lost to any downstream d-sum.  With sentinel=True one extra
    (tok=NULL, c=0, d) row is always emitted so the offset survives even
    when the counter set is empty; mergers must exclude NULL tok from
    the counter fold (c=0 makes it harmless there anyway) and take d
    from the distinct (bid, d) projection as usual."""
    from pyspark.sql import Window

    cnt = tok.groupBy("tok").agg(F.count("*").alias("f"))
    rn = F.row_number().over(
        Window.orderBy(
            F.col("f").desc(), _dedup._shingle_int(F.col("tok"))
        )
    )
    dv = (
        cnt.withColumn("rn", rn)
        .filter(F.col("rn") == _MG_M + 1)
        .agg(F.coalesce(F.max("f"), F.lit(0)).alias("d"))
    )
    part = (
        cnt.crossJoin(F.broadcast(dv))
        .filter(F.col("f") > F.col("d"))
        .select("tok", (F.col("f") - F.col("d")).alias("c"), "d")
    )
    if not sentinel:
        return part
    marker = dv.select(
        F.lit(None).cast("string").alias("tok"),
        F.lit(0).cast("bigint").alias("c"),
        "d",
    )
    return part.unionByName(marker)


@query("heavy_hitters_merge_audit", oracle=_MG_ORACLE)
def q_heavy_hitters_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent-items summary with the SHARD-MERGE law of
    Agarwal et al. 2013 ("Mergeable Summaries") — the one standard
    mergeable sketch the suite still lacked (count-min answers point
    queries for KNOWN keys; MG returns the top-k SET with a
    deterministic error bound).  Order-independent canonical form: an
    MG summary of capacity m computed from exact shard counts is
    c_x = f_x − d where d is the (m+1)-th largest count (zero when the
    shard has ≤ m distinct keys) — every sequential decrement order
    converges to this.  Two doc-sharded summaries merge by summing
    counters and re-truncating at the merged (m+1)-th largest; the
    guarantee carried through the merge is
    est ≤ exact ≤ est + (d1 + d2 + d3), and every token with
    exact > d1+d2+d3 MUST survive — both receipts are audited against
    exact global counts and the oracle asserts them (bound_ok per row,
    n_missed_heavy = 0 globally).  Deterministic md5 tie-break at the
    rank-(m+1) probe makes the summary hash-checkable.

    Scale shape: per-shard counts are one map-side-combined groupBy;
    the rank-(m+1) probe is a top-k-sized window per shard (at 100 TB
    this runs as a per-shard TakeOrdered over the count table — the
    probe reads ranks, never materializes a global sort); summaries
    are ≤ m rows each, so the merge, re-truncation, and audit joins
    are all broadcast-sized.  The exact side is the audit's
    calibration, not the production path — a real pipeline merges
    per-partition summaries only."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tok = d.select(
        (
            _dedup._shingle_int(F.col("doc_id").cast("string")) % 2
        ).alias("shard"),
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    exact = tok.groupBy("tok").agg(F.count("*").alias("f"))
    sc = tok.groupBy("shard", "tok").agg(F.count("*").alias("f"))
    tie = _dedup._shingle_int(F.col("tok"))
    rn_shard = F.row_number().over(
        Window.partitionBy("shard").orderBy(F.col("f").desc(), tie)
    )
    dd = (
        sc.withColumn("rn", rn_shard)
        .filter(F.col("rn") == _MG_M + 1)
        .select("shard", F.col("f").alias("d"))
    )
    summ = (
        sc.join(F.broadcast(dd), "shard", "left")
        .withColumn("d0", F.coalesce("d", F.lit(0)))
        .filter(F.col("f") > F.col("d0"))
        .select("tok", (F.col("f") - F.col("d0")).alias("c"))
    )
    merged0 = summ.groupBy("tok").agg(F.sum("c").alias("g"))
    rn_glob = F.row_number().over(
        # merged0 is ≤ 2m rows (two ≤ m summaries) — the global window
        # is a constant-size frame, not a vocab sort
        Window.orderBy(F.col("g").desc(), tie)
    )
    d3 = (
        merged0.withColumn("rn", rn_glob)
        .filter(F.col("rn") == _MG_M + 1)
        .select(F.col("g").alias("d3"))
    )
    d3s = d3.agg(F.coalesce(F.max("d3"), F.lit(0)).alias("d3"))
    errb = (
        dd.agg(F.coalesce(F.sum("d"), F.lit(0)).alias("d12"))
        .crossJoin(F.broadcast(d3s))
        .select((F.col("d12") + F.col("d3")).alias("err_bound"))
    )
    hh = (
        merged0.crossJoin(F.broadcast(d3s))
        .filter(F.col("g") > F.col("d3"))
        .select("tok", (F.col("g") - F.col("d3")).alias("est"))
    )
    missed = (
        exact.crossJoin(F.broadcast(errb))
        .filter(F.col("f") > F.col("err_bound"))
        .join(hh.select("tok"), "tok", "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_missed_heavy"))
    )
    return (
        hh.join(exact, "tok")
        .crossJoin(F.broadcast(errb))
        .crossJoin(F.broadcast(missed))
        .select(
            F.col("tok").alias("token"),
            F.col("est").cast("bigint").alias("est_count"),
            F.col("f").cast("bigint").alias("exact_count"),
            F.col("err_bound").cast("bigint").alias("err_bound"),
            (
                (F.col("est") <= F.col("f"))
                & (F.col("f") <= F.col("est") + F.col("err_bound"))
            ).alias("bound_ok"),
            "n_missed_heavy",
        )
    )


@query("stream_heavy_hitters_merge", oracle=_mg_oracle_sql(4))
def q_stream_heavy_hitters_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Misra-Gries — the stream twin the sketch-merge family
    gives every summary (stream_kmv_merge ∪, stream_hll_merge MAX,
    stream_countmin_merge +): per micro-batch a canonical MG summary
    lands as a replay-safe bid-keyed partial, and the fold sums
    counters + re-truncates, carrying the additive error law
    Σ d_batch + d_final through the merge.  MG partials are NOT
    batching-invariant, so the stream stages deterministic
    md5(doc_id)%4 batches and the oracle recomputes the same four
    summaries — the merge itself stays symmetric, so arrival order is
    free.  Audit columns identical to heavy_hitters_merge_audit; the
    oracle asserts bound_ok and n_missed_heavy = 0.

    Scale shape: per-trigger state is ≤ m counters + one offset; the
    fold touches (batches × m) partial rows, never the corpus — the
    production path for a top-k dashboard over an unbounded token
    stream."""
    from ..streaming.pipeline import run_stream_heavy_hitters

    return run_stream_heavy_hitters(spark, sf_dir)


# ---------------------------------------------------------------------------
# Bigram LM quality scoring — the CCNet-style perplexity filter, restated
# on the exact-integer contract
# ---------------------------------------------------------------------------

_LM_V = 4096  # hashed-token vocabulary (caps the model at V^2 pairs)

# FLOOR-quantized smoothed bigram likelihood, the classifier's _SCORE_SQL
# discipline: exact-int inputs, double-first multiply (no int64 overflow
# at any count), ONE correctly-rounded division, floor — bit-identical.
_LM_W_SQL = (
    "CAST(FLOOR(CAST(COALESCE({c12}, 0) + 1 AS DOUBLE) * 1000000000.0"
    f" / CAST(COALESCE({{c1}}, 0) + {_LM_V} AS DOUBLE)) AS BIGINT)"
)

_LM_SCORES_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
    {{bucket}} < 80 AS is_train,
    list_transform(
      str_split_regex({{fold}}, '\\s+'),
      s -> {{sint}} % {_LM_V}) AS bs
  FROM documents WHERE text IS NOT NULL
),
big AS (
  SELECT doc_id, is_train,
    bs[CAST(i AS INTEGER)] AS b1, bs[CAST(i AS INTEGER) + 1] AS b2
  FROM tok, unnest(range(1, len(bs))) AS u(i)
),
pairs AS (
  SELECT b1, b2, COUNT(*) AS c12 FROM big WHERE is_train GROUP BY 1, 2
),
ctx AS (SELECT b1, SUM(c12) AS c1 FROM pairs GROUP BY 1),
scored AS (
  SELECT h.doc_id, COUNT(*) AS n_bigrams,
    SUM({_LM_W_SQL.format(c12='p.c12', c1='c.c1')}) AS sw
  FROM big h
  LEFT JOIN pairs p ON h.b1 = p.b1 AND h.b2 = p.b2
  LEFT JOIN ctx c ON h.b1 = c.b1
  WHERE NOT h.is_train
  GROUP BY 1
)
SELECT doc_id, n_bigrams,
  CAST(sw AS DOUBLE) / n_bigrams / 1000000000.0 AS lm_score
FROM scored
ORDER BY lm_score DESC, doc_id
LIMIT 20
"""


@query(
    "bigram_lm_doc_scores",
    oracle=_LM_SCORES_ORACLE.format(
        bucket="("
        + _dedup._SHINGLE_INT_SQL.format(x="CAST(doc_id AS VARCHAR)")
        + " % 100)",
        fold=_dedup._ASCII_FOLD_SQL.format(x="trim(text)"),
        sint=_dedup._SHINGLE_INT_SQL.format(x="s"),
    ),
)
def q_bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring — the CCNet/KenLM
    'perplexity filter' of pretraining pipelines, restated so it is
    engine-exact: train hashed-bigram counts on the 80% hash-bucket
    split, score every HELD-OUT document by the mean FLOOR-quantized
    smoothed bigram likelihood (w = ⌊(c₁₂+1)·10⁹/(c₁+V)⌋, the linear
    stand-in for log-prob — logs would put a transcendental in the
    score; monotone in the same ranking), and emit the top-20 most
    in-distribution documents.  Low scorers are the gibberish/
    boilerplate a real pipeline drops.

    Scale shape: the MODEL is two count tables bounded by the hashed
    vocabulary (≤V² pairs regardless of corpus size — the CM-sketch
    trick applied to an LM) built in one train-token shuffle; scoring
    is two broadcast LEFT joins + a map-side-combined per-doc sum, and
    the top-20 is TakeOrderedAndProject.  Exact int sums → one double
    division per doc: scores are bit-identical, so the double ORDER BY
    is engine-safe (ties break on doc_id).  Train/held-out hygiene is
    the classifier's leak-proof hash split."""
    from .sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    bs = F.transform(
        F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+"),
        lambda s: _dedup._shingle_int(s) % _LM_V,
    )
    tk = d.select(
        "doc_id",
        (hash_bucket(F.col("doc_id")) < 80).alias("is_train"),
        bs.alias("bs"),
    )
    n = F.size(F.col("bs"))
    big = tk.select(
        "doc_id",
        "is_train",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("bs"), 1, n - 1).alias("b1"),
                F.slice(F.col("bs"), 2, n - 1).alias("b2"),
            )
        ).alias("p"),
    ).select("doc_id", "is_train", F.col("p.b1").alias("b1"), F.col("p.b2").alias("b2"))
    pairs = (
        big.filter(F.col("is_train"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=True)  # the model: feeds ctx AND the join
    )
    ctx = pairs.groupBy("b1").agg(F.sum("c12").alias("c1"))
    w = F.floor(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
        * F.lit(1000000000.0)
        / (F.coalesce(F.col("c1"), F.lit(0)) + _LM_V).cast("double")
    ).cast("bigint")
    scored = (
        big.filter(~F.col("is_train"))
        .join(F.broadcast(pairs), ["b1", "b2"], "left")
        .join(F.broadcast(ctx), ["b1"], "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum(w).alias("sw"))
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sw").cast("double")
                / F.col("n_bigrams")
                / F.lit(1000000000.0)
            ).alias("lm_score"),
        )
        .orderBy(F.col("lm_score").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BM25 more-like-this retrieval — Okapi BM25 on the exact-integer contract
# ---------------------------------------------------------------------------

# k1 = 1.2 and b = 0.75 as exact rationals: with avgdl = S/N the per-term
# normalized tf collapses to 44·tf·S / (20·tf·S + 6·S + 18·dl·N) — every
# factor an exact int64 (products < 2^63 by orders of magnitude at any
# plausible S), so the whole BM25 term is TWO exact-int→double casts, one
# multiply, one divide — correctly-rounded IEEE ops, bit-identical.
_BM25_SCORE_SQL = (
    "CAST(2 * {n} - 2 * {df} + 1 AS DOUBLE) * CAST(44 * {tf} * {s} AS DOUBLE)"
    " / (CAST(2 * {df} + 1 AS DOUBLE)"
    " * CAST(20 * {tf} * {s} + 6 * {s} + 18 * {dl} * {n} AS DOUBLE))"
)

_BM25_ORACLE = f"""
WITH docs_t AS (
  SELECT doc_id,
    str_split_regex({_dedup._ASCII_FOLD_SQL.format(x='trim(text)')},
                    '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(t) AS dl FROM docs_t),
st AS (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM dl
),
toks AS (SELECT doc_id, unnest(t) AS tok FROM docs_t),
qt AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
tf AS (
  SELECT k.doc_id, k.tok, COUNT(*) AS tf
  FROM toks k JOIN qt USING (tok) GROUP BY 1, 2
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
wi AS (
  SELECT tf.doc_id,
    CAST(FLOOR({_BM25_SCORE_SQL.format(n='st.n', df='dfreq.df', tf='tf.tf',
                                       s='st.s', dl='dl.dl')}
               * 1000000.0) AS BIGINT) AS w
  FROM tf
  JOIN dfreq USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN st
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(w) AS BIGINT) AS sw
  FROM wi GROUP BY doc_id
)
SELECT doc_id, n_terms,
  CAST(sw AS DOUBLE) / 1000000.0 AS bm25_score
FROM scored
ORDER BY sw DESC, doc_id
LIMIT 15
"""


@query("bm25_more_like_this", oracle=_BM25_ORACLE)
def q_bm25_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval, query-by-example: document 0's distinct
    tokens are the query, every document scores by Σ_t idf·tf_norm with
    k1 = 1.2, b = 0.75, top-15 served.  The classic lexical ranker
    (Robertson & Zaragoza 2009) — and the retrieval half of a RAG data
    pipeline — restated so it is engine-exact: the log-idf is replaced
    by its argument's exact rational (monotone in df, so the RANKING is
    BM25's), the length normalization collapses to an all-integer
    rational (see _BM25_SCORE_SQL), each per-(doc, term) score is one
    double multiply+divide over exact-int casts, FLOOR-quantized to
    int64 so the per-document sum is EXACT — no SUM(double) anywhere —
    and the top-15 orders by the integer sum.

    Scale shape: the query's term set and the per-term df table
    broadcast (bounded by query length); tf is the one corpus shuffle
    (map-side combined, postings grain); doc length joins on the same
    doc_id partitioning; top-15 is TakeOrderedAndProject.  At 100 TB
    this is per-query work proportional to the query terms' postings —
    the inverted-index serving shape (inverted_index_postings builds
    the physical layout)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    scored = _bm25_scored(d)
    return (
        scored.orderBy(F.col("sw").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            "n_terms",
            (F.col("sw").cast("double") / F.lit(1000000.0)).alias(
                "bm25_score"
            ),
        )
    )


def _bm25_scored(d: DataFrame) -> DataFrame:
    """(doc_id, n_terms, sw) BM25 integer scores of every document
    against document 0's term set — shared by the ranker query and the
    RRF fusion."""
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    # deliberately NOT checkpointed: three consumers re-scan, but the
    # explode is pure codegen — materializing ~10M token rows costs
    # more than the re-scans (measured 1.8 s vs 1.4 s at sf0.1)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    st = dl.agg(
        F.count("*").alias("n"), F.sum("dl").cast("bigint").alias("s")
    )
    qt = toks.filter(F.col("doc_id") == 0).select("tok").distinct()
    tf = (
        toks.join(F.broadcast(qt), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    score = (
        (2 * F.col("n") - 2 * F.col("df") + 1).cast("double")
        * (44 * F.col("tf") * F.col("s")).cast("double")
        / (
            (2 * F.col("df") + 1).cast("double")
            * (
                20 * F.col("tf") * F.col("s")
                + 6 * F.col("s")
                + 18 * F.col("dl") * F.col("n")
            ).cast("double")
        )
    )
    wi = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            F.floor(score * F.lit(1000000.0)).cast("bigint").alias("w"),
        )
    )
    return wi.groupBy("doc_id").agg(
        F.count("*").alias("n_terms"), F.sum("w").cast("bigint").alias("sw")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring — the KenLM-grade smoothing,
# restated on the exact-integer contract
# ---------------------------------------------------------------------------

# With discount D = 3/4 kept rational, the interpolated-KN probability
#   P(b2|b1) = max(c12 - D, 0)/c1 + D·N1+(b1·)/c1 · N1+(·b2)/N1+(··)
# collapses over the common denominator 4·c1·ntot to
#   num = max(4·c12 - 3, 0)·ntot + 3·n1f·ncont        (seen context)
#   num = 4·ncont,  den = 4·ntot                       (unseen context:
#                                                       pure continuation)
# Every factor is an exact int64 well under 2^53 (c12 ≤ corpus bigrams,
# ntot ≤ V² = 1.6e7, n1f/ncont ≤ V), so num and den are exact as
# doubles; the FLOOR-quantized likelihood then follows the _LM_W_SQL
# discipline — double multiply, ONE division, floor — bit-identical.
_KN_W_SQL = (
    "CAST(FLOOR(CAST({num} AS DOUBLE) * 1000000000.0"
    " / CAST({den} AS DOUBLE)) AS BIGINT)"
)

_KN_NUM_SQL = (
    "CASE WHEN COALESCE({c1}, 0) = 0 THEN 4 * COALESCE({ncont}, 0)"
    " ELSE GREATEST(4 * COALESCE({c12}, 0) - 3, 0) * {ntot}"
    " + 3 * COALESCE({n1f}, 0) * COALESCE({ncont}, 0) END"
)
_KN_DEN_SQL = (
    "CASE WHEN COALESCE({c1}, 0) = 0 THEN 4 * {ntot}"
    " ELSE 4 * {c1} * {ntot} END"
)

_KN_SCORES_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
    {{bucket}} < 80 AS is_train,
    list_transform(
      str_split_regex({{fold}}, '\\s+'),
      s -> {{sint}} % {_LM_V}) AS bs
  FROM documents WHERE text IS NOT NULL
),
big AS (
  SELECT doc_id, is_train,
    bs[CAST(i AS INTEGER)] AS b1, bs[CAST(i AS INTEGER) + 1] AS b2
  FROM tok, unnest(range(1, len(bs))) AS u(i)
),
pairs AS (
  SELECT b1, b2, COUNT(*) AS c12 FROM big WHERE is_train GROUP BY 1, 2
),
fol AS (
  SELECT b1, SUM(c12) AS c1, COUNT(*) AS n1f FROM pairs GROUP BY 1
),
pre AS (SELECT b2, COUNT(*) AS ncont FROM pairs GROUP BY 1),
tot AS (SELECT COUNT(*) AS ntot FROM pairs),
scored AS (
  SELECT h.doc_id, COUNT(*) AS n_bigrams,
    SUM({_KN_W_SQL.format(
        num=_KN_NUM_SQL.format(
            c1='f.c1', c12='p.c12', n1f='f.n1f',
            ncont='r.ncont', ntot='t.ntot'),
        den=_KN_DEN_SQL.format(c1='f.c1', ntot='t.ntot'))}) AS sw
  FROM big h
  LEFT JOIN pairs p ON h.b1 = p.b1 AND h.b2 = p.b2
  LEFT JOIN fol f ON h.b1 = f.b1
  LEFT JOIN pre r ON h.b2 = r.b2
  CROSS JOIN tot t
  WHERE NOT h.is_train
  GROUP BY 1
)
SELECT doc_id, n_bigrams,
  CAST(sw AS DOUBLE) / n_bigrams / 1000000000.0 AS kn_score
FROM scored
ORDER BY kn_score DESC, doc_id
LIMIT 20
"""


@query(
    "kneser_ney_doc_scores",
    oracle=_KN_SCORES_ORACLE.format(
        bucket="("
        + _dedup._SHINGLE_INT_SQL.format(x="CAST(doc_id AS VARCHAR)")
        + " % 100)",
        fold=_dedup._ASCII_FOLD_SQL.format(x="trim(text)"),
        sint=_dedup._SHINGLE_INT_SQL.format(x="s"),
    ),
)
def q_kneser_ney_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    Goodman 1998) — the smoothing KenLM ships and CCNet's perplexity
    filter actually runs, upgrading bigram_lm_doc_scores' add-one
    smoothing: mass is DISCOUNTED from seen bigrams (D = 3/4) and
    re-distributed by CONTINUATION counts (how many distinct contexts a
    word follows — why 'Francisco' scores low outside 'San Francisco'
    despite high raw frequency).  The absolute discount keeps
    everything rational: the whole probability collapses to one
    integer-ratio per bigram (see _KN_NUM_SQL), FLOOR-quantized and
    summed exactly, so ranking is engine-identical.  Unseen contexts
    back off to the pure continuation distribution.

    Scale shape: identical to the add-one LM — the model is three count
    tables bounded by the hashed vocabulary (pairs ≤ V², fol/pre ≤ V)
    plus a 1-row total, all broadcast; scoring is broadcast left joins
    + one map-side-combined per-doc sum; top-20 is
    TakeOrderedAndProject.  The continuation tables cost two extra
    vocabulary-bounded aggregations over the pair census — never a
    second corpus pass."""
    from .sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    bs = F.transform(
        F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+"),
        lambda s: _dedup._shingle_int(s) % _LM_V,
    )
    tk = d.select(
        "doc_id",
        (hash_bucket(F.col("doc_id")) < 80).alias("is_train"),
        bs.alias("bs"),
    )
    n = F.size(F.col("bs"))
    big = tk.select(
        "doc_id",
        "is_train",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("bs"), 1, n - 1).alias("b1"),
                F.slice(F.col("bs"), 2, n - 1).alias("b2"),
            )
        ).alias("p"),
    ).select(
        "doc_id", "is_train", F.col("p.b1").alias("b1"), F.col("p.b2").alias("b2")
    )
    pairs = (
        big.filter(F.col("is_train"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=True)  # the model: feeds fol, pre, tot, join
    )
    fol = pairs.groupBy("b1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    pre = pairs.groupBy("b2").agg(F.count("*").alias("ncont"))
    tot = pairs.agg(F.count("*").alias("ntot"))
    c1z = F.coalesce(F.col("c1"), F.lit(0))
    num = F.when(c1z == 0, 4 * F.coalesce(F.col("ncont"), F.lit(0))).otherwise(
        F.greatest(4 * F.coalesce(F.col("c12"), F.lit(0)) - 3, F.lit(0))
        * F.col("ntot")
        + 3
        * F.coalesce(F.col("n1f"), F.lit(0))
        * F.coalesce(F.col("ncont"), F.lit(0))
    )
    den = F.when(c1z == 0, 4 * F.col("ntot")).otherwise(
        4 * F.col("c1") * F.col("ntot")
    )
    w = F.floor(
        num.cast("double") * F.lit(1000000000.0) / den.cast("double")
    ).cast("bigint")
    scored = (
        big.filter(~F.col("is_train"))
        .join(F.broadcast(pairs), ["b1", "b2"], "left")
        .join(F.broadcast(fol), ["b1"], "left")
        .join(F.broadcast(pre), ["b2"], "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum(w).alias("sw"))
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sw").cast("double")
                / F.col("n_bigrams")
                / F.lit(1000000000.0)
            ).alias("kn_score"),
        )
        .orderBy(F.col("kn_score").desc(), "doc_id")
        .limit(20)
    )


_CM_STREAM_ORACLE = f"""
WITH tok AS (
  SELECT unnest(str_split_regex(
    {_dedup._ASCII_FOLD_SQL.format(x='trim(text)')}, '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
),
htok AS (
  SELECT tok, r.i AS i, {_CM_HASH_SQL.format(i='r.i', tok='tok')} AS b
  FROM tok CROSS JOIN range({_CM_D}) r(i)
)
SELECT CAST(i AS BIGINT) AS i, CAST(b AS BIGINT) AS b, COUNT(*) AS c
FROM htok GROUP BY 1, 2
"""


@query("stream_countmin_merge", oracle=_CM_STREAM_ORACLE)
def q_stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min sketch: per-micro-batch partial sketches
    folded by integer addition into the corpus sketch — hash-checked
    against DuckDB building the same d·w counter table in one batch
    pass (linear-sketch mergeability means the micro-batching is
    invisible in the result; see run_stream_countmin)."""
    from ..streaming.pipeline import run_stream_countmin

    return run_stream_countmin(spark, sf_dir)


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion of two rankers
# ---------------------------------------------------------------------------

_RRF_K = 60     # the standard RRF dampening constant
_RRF_TOP = 20   # per-ranker candidate depth

_RRF_ORACLE = f"""
WITH docs_t AS (
  SELECT doc_id,
    str_split_regex({_dedup._ASCII_FOLD_SQL.format(x='trim(text)')},
                    '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(t) AS dl FROM docs_t),
st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS s FROM dl),
toks AS (SELECT doc_id, unnest(t) AS tok FROM docs_t),
qt AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
tf AS (
  SELECT k.doc_id, k.tok, COUNT(*) AS tf
  FROM toks k JOIN qt USING (tok) GROUP BY 1, 2
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
wi AS (
  SELECT tf.doc_id,
    CAST(FLOOR({_BM25_SCORE_SQL.format(n='st.n', df='dfreq.df', tf='tf.tf',
                                       s='st.s', dl='dl.dl')}
               * 1000000.0) AS BIGINT) AS w
  FROM tf
  JOIN dfreq USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN st
),
bm AS (
  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS sw FROM wi
  WHERE doc_id != 0 GROUP BY doc_id
),
bm_top AS (SELECT doc_id, sw FROM bm ORDER BY sw DESC, doc_id LIMIT {_RRF_TOP}),
ra AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY sw DESC, doc_id) AS rank_bm25
  FROM bm_top
),
sh AS (
  SELECT doc_id, {_dedup._SHINGLE_INT_SQL.format(x='s')} AS sg
  FROM (
    SELECT doc_id, unnest({_dedup._SHINGLES_SQL}) AS s
    FROM documents WHERE text IS NOT NULL
  )
),
q0 AS (SELECT DISTINCT sg FROM sh WHERE doc_id = 0),
ov AS (
  SELECT s.doc_id, COUNT(*) AS ov
  FROM sh s JOIN q0 USING (sg)
  WHERE s.doc_id != 0 GROUP BY s.doc_id
),
ov_top AS (SELECT doc_id, ov FROM ov ORDER BY ov DESC, doc_id LIMIT {_RRF_TOP}),
rb AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY ov DESC, doc_id) AS rank_shingle
  FROM ov_top
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
    ra.rank_bm25, rb.rank_shingle,
    COALESCE(1000000000 // ({_RRF_K} + ra.rank_bm25), 0)
      + COALESCE(1000000000 // ({_RRF_K} + rb.rank_shingle), 0) AS rrf_i
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rank_bm25, rank_shingle,
  CAST(rrf_i AS DOUBLE) / 1000000000.0 AS rrf_score
FROM fused
ORDER BY rrf_i DESC, doc_id
LIMIT 10
"""


@query("hybrid_rrf_retrieval", oracle=_RRF_ORACLE)
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR'09) — the standard
    way production search fuses heterogeneous rankers without score
    calibration: two retrievers answer document 0's query-by-example
    (BM25 over tokens; 3-gram shingle overlap — the order-aware lexical
    signal BM25's bag-of-words misses), each contributes its top-20
    ranking, and every candidate's fused score is
    Σ 1/(60 + rank) over the lists that returned it.  The reciprocal is
    kept exact as the integer 10⁹ div (60 + rank), so fused scores sum
    and rank identically on both engines; absent-from-one-list
    candidates take 0 from that list via the FULL OUTER join.

    Scale shape: each ranker's candidate pull is its own documented
    plan (BM25: query-term postings; shingles: broadcast query-shingle
    semi-join) ending in a TakeOrderedAndProject top-20; ranks are then
    assigned by a window over 20 ROWS (never the corpus — the orderBy/
    limit happens BEFORE the rank window), and the fusion join touches
    at most 40 rows.  Adding a third ranker (e.g. the ANN column) is
    one more tiny outer join — the reason RRF is the default fusion at
    scale."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    from pyspark.sql import Window

    bm_top = (
        _bm25_scored(d)
        .filter(F.col("doc_id") != 0)
        .orderBy(F.col("sw").desc(), "doc_id")
        .limit(_RRF_TOP)
    )
    ra = bm_top.select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("sw").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank_bm25"),
    )
    sh = d.select(
        "doc_id", F.explode(_dedup._word_shingles(F.col("text"))).alias("s")
    ).select("doc_id", _dedup._shingle_int(F.col("s")).alias("sg"))
    q0 = sh.filter(F.col("doc_id") == 0).select("sg").distinct()
    ov_top = (
        sh.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q0), "sg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("ov"))
        .orderBy(F.col("ov").desc(), "doc_id")
        .limit(_RRF_TOP)
    )
    rb = ov_top.select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("ov").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank_shingle"),
    )
    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        "rank_bm25",
        "rank_shingle",
        (
            F.coalesce(
                F.expr(f"1000000000 div ({_RRF_K} + rank_bm25)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000 div ({_RRF_K} + rank_shingle)"), F.lit(0)
            )
        ).alias("rrf_i"),
    )
    return (
        fused.orderBy(F.col("rrf_i").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "rank_bm25",
            "rank_shingle",
            (F.col("rrf_i").cast("double") / F.lit(1000000000.0)).alias(
                "rrf_score"
            ),
        )
    )



# ---------------------------------------------------------------------------
# Viterbi word segmentation — the unigram-tokenizer inference step as
# unrolled min-plus relaxation rounds
# ---------------------------------------------------------------------------

# Segmentation cost of a piece: the rational stand-in for -log p —
# strictly decreasing in corpus frequency, positive, integer (the
# no-transcendentals contract; the true -log objective differs only in
# the argmin's shape preference, the DP machinery is identical).  The
# DP state packs (cost, hops) into ONE int64 — pk = 16*cost + hops —
# so relaxing an edge is pk + (16*c + 1) and the lexicographic
# (cost, fewest-pieces) argmin is a plain MIN over integers.
_VIT_ROUNDS = 12  # words capped at 12 chars -> <= 12 hops to the end

_VITERBI_ORACLE = f"""
WITH tok AS (
  SELECT unnest(str_split_regex(
    {{fold}}, '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL
),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wf FROM tok
  WHERE len(w) BETWEEN 1 AND {_VIT_ROUNDS} GROUP BY w
),
edges AS MATERIALIZED (
  SELECT w, wf, j.j AS j, j.j + k.k AS i,
    substr(w, CAST(j.j + 1 AS INTEGER), CAST(k.k AS INTEGER)) AS piece
  FROM words, range(0, {_VIT_ROUNDS}) j(j), range(1, 5) k(k)
  WHERE j.j + k.k <= len(w)
),
census AS MATERIALIZED (SELECT piece, SUM(wf) AS cnt FROM edges GROUP BY piece),
edges_c AS MATERIALIZED (
  SELECT e.w, e.j, e.i, 16 * (1000000000000 // c.cnt) + 1 AS c16
  FROM edges e JOIN census c ON e.piece = c.piece
),
d0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS pk FROM words),
{{rounds}}
SELECT v.w AS word, s.wf, CAST(v.pk // 16 AS BIGINT) AS cost_i,
  CAST(v.pk % 16 AS BIGINT) AS n_pieces
FROM d{_VIT_ROUNDS} v JOIN words s ON v.w = s.w
WHERE v.pos = len(v.w)
ORDER BY s.wf DESC, v.w
LIMIT 20
"""


@query(
    "viterbi_segment_stats",
    oracle=_VITERBI_ORACLE.format(
        fold=_dedup._ASCII_FOLD_SQL.format(x="trim(text)"),
        rounds="""d1 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d0
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d0 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d2 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d1
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d1 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d3 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d2
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d2 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d4 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d3
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d3 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d5 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d4
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d4 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d6 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d5
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d5 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d7 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d6
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d6 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d8 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d7
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d7 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d9 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d8
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d8 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d10 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d9
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d9 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d11 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d10
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d10 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
),
d12 AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM d11
    UNION ALL
    SELECT e.w, e.i AS pos, d.pk + e.c16
    FROM d11 d JOIN edges_c e ON d.w = e.w AND d.pos = e.j
  ) GROUP BY 1, 2
)""",
    ),
)
def q_viterbi_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi word segmentation — the INFERENCE step of a
    unigram-LM tokenizer (SentencePiece's decode direction, Kudo 2018):
    each corpus word is optimally split into vocabulary pieces (all
    corpus substrings of length 1-4, weighted by corpus frequency) by a
    shortest-path DP over its character positions, minimizing total
    piece cost with ties to the FEWEST pieces.  Both objectives ride
    one packed int64 (pk = 16*cost + hops: relaxation is pk + 16c + 1,
    argmin is MIN), so the chosen segmentation is engine-identical;
    the oracle unrolls the same 12 min-plus rounds as CTEs, the
    BFS/pagerank discipline.

    Scale shape: the DP runs at the DISTINCT-WORD grain — state is
    (vocabulary x positions) rows and edges (vocabulary x len x 4),
    both bounded by the corpus VOCABULARY, never its token count (the
    word-frequency census is the only corpus-wide pass, the same
    shuffle BPE training starts with).  Rounds relax via equi-joins
    with localCheckpoint every 2 (the iterative-lineage rule); a piece
    census at 100 TB is the substring analog of the BPE pair census —
    map-side combined, vocabulary-sized output."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    return viterbi_segment(d)


def viterbi_segment(d: DataFrame) -> DataFrame:
    """The segmentation DP over any (doc_id, text) frame."""
    tok = d.select(
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("w")
    )
    words = (
        tok.filter(F.length("w").between(1, _VIT_ROUNDS))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wf"))
        .localCheckpoint(eager=True)
    )
    edges = (
        words.select(
            "w", "wf",
            F.explode(
                F.sequence(F.lit(0), F.length("w") - 1)
            ).alias("j"),
        )
        .select(
            "w", "wf", "j",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("k"),
        )
        .filter(F.col("j") + F.col("k") <= F.length("w"))
        .select(
            "w", "wf", "j",
            (F.col("j") + F.col("k")).alias("i"),
            F.expr("substring(w, j + 1, k)").alias("piece"),
        )
    )
    census = edges.groupBy("piece").agg(F.sum("wf").alias("cnt"))
    # Whole DP as a per-word JVM array fold (r14 optimization, the
    # unigram-EM recipe: the DP is WORD-LOCAL, so after one
    # group-edges-per-word exchange the 12 relax rounds collapse into
    # aggregate(sequence(1, wlen), ...) — identical packed-int
    # arithmetic and MIN ties, zero per-round shuffles/barriers; was
    # 12 join+union+groupBy rounds with checkpoint cadence)
    ecg = (
        edges.join(census, "piece")
        .select(
            "w", "j", "i",
            (16 * F.expr("1000000000000 div cnt") + 1).alias("c16"),
        )
        .groupBy("w")
        .agg(F.collect_list(F.struct("j", "i", "c16")).alias("eds"))
    )
    final = (
        words.join(ecg, "w")
        .withColumn("wlen", F.length("w"))
        .withColumn(
            "fwdarr", F.expr(_em_word_dp_sql("eds", "wlen", "fwd"))
        )
        .select("w", "wf", F.expr("fwdarr[wlen]").alias("pk"))
        .filter(F.col("pk").isNotNull())
    )
    return (
        final.select(
            F.col("w").alias("word"),
            "wf",
            F.expr("pk div 16").alias("cost_i"),
            (F.col("pk") % 16).cast("bigint").alias("n_pieces"),
        )
        .orderBy(F.col("wf").desc(), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PMI token co-occurrence — corpus association mining over a bounded vocab
# ---------------------------------------------------------------------------

_PMI_V = 40  # vocabulary: top tokens by document frequency
_PMI_MIN_AB = 3  # minimum co-document count

_PMI_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(str_split_regex(
      {_dedup._ASCII_FOLD_SQL.format(x='trim(text)')}, '\\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
  ) WHERE tok != ''
),
df AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1),
vocab AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT {_PMI_V}
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
vt AS (SELECT dt.doc_id, dt.tok FROM dt JOIN vocab USING (tok)),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_AB}
)
SELECT p.tok_a, p.tok_b, CAST(p.n_ab AS BIGINT) AS n_ab,
  round(ln(CAST(p.n_ab AS DOUBLE) * CAST(nd.n AS DOUBLE)
           / (CAST(va.df AS DOUBLE) * CAST(vb.df AS DOUBLE))), 6) AS pmi
FROM pairs p
JOIN vocab va ON p.tok_a = va.tok
JOIN vocab vb ON p.tok_b = vb.tok
CROSS JOIN nd
"""


@query("token_cooccurrence_pmi", oracle=_PMI_ORACLE)
def q_token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token co-occurrence (document
    grain) over the top-40-df vocabulary — the association-mining
    primitive behind collocation discovery, topic seeding, and
    word-vector objectives (PMI matrices are what SGNS implicitly
    factorizes).  pmi = ln(n_ab·N / (df_a·df_b)) on exact integer
    counts with the ln applied to one identical double ratio and
    rounded (the tfidf discipline) — hash-checkable.

    Scale shape: the vocabulary is bounded (top-k df census first —
    distributed TakeOrdered), so each document contributes at most
    V tokens and V²/2 pair increments; the pair census shuffles
    ≤ V² rows total.  Unbounded-vocab co-occurrence at 100 TB uses the
    same plan with df-band pruning (inverted_index_postings' cap) —
    vocabulary choice IS the cost model."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    dt = (
        d.select(
            "doc_id",
            F.explode(
                F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    df = dt.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = df.orderBy(F.col("df").desc(), "tok").limit(_PMI_V)
    nd = dt.agg(F.count_distinct("doc_id").alias("n"))
    vt = dt.join(F.broadcast(vocab.select("tok")), "tok")
    a = vt.select("doc_id", F.col("tok").alias("tok_a"))
    b = vt.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_AB)
    )
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n").cast("double")
                    / (
                        F.col("df_a").cast("double")
                        * F.col("df_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Readability scoring — Flesch / FK grade from exact per-doc counts
# ---------------------------------------------------------------------------

_SYLL_RE = "[aeiouyAEIOUY]+"
_SENT_RE = "[.!?]+"

_READABILITY_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
    len({_TOKENIZE_SQL}) AS w,
    GREATEST(1, len(regexp_extract_all(text, '{_SENT_RE}'))) AS s,
    list_sum(list_transform({_TOKENIZE_SQL},
      t -> GREATEST(1, len(regexp_extract_all(t, '{_SYLL_RE}'))))) AS y
  FROM documents
  WHERE len({_TOKENIZE_SQL}) >= 1
)
SELECT doc_id,
  CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
  CAST(y AS BIGINT) AS n_syllables,
  206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
          - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) AS flesch,
  0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
    + 11.8 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59 AS fk_grade
FROM c
"""


@query("doc_readability_scores", oracle=_READABILITY_ORACLE)
def q_doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease + Flesch-Kincaid grade)
    — the classic text-quality feature pretraining filters cut on
    alongside stopword ratio and TTR.  Syllables use the standard
    vowel-group proxy (≥1 per word); sentences the terminal-punctuation
    census (≥1 per doc).  All three inputs are exact per-row integers
    from one regex pass each; the scores are identical closed-form
    double expressions both sides (correctly-rounded IEEE divide /
    multiply / subtract in the same association order), so no rounding
    is applied at all — the raw doubles are already bit-identical.
    ASCII character classes keep Java-regex and RE2 semantics aligned.

    Scale shape: pure per-row map — no shuffle anywhere; runs inside
    whole-stage codegen and scales linearly with the scan."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    w = F.size(toks)
    s = F.greatest(F.lit(1), F.regexp_count(F.col("text"), F.lit(_SENT_RE)))
    y = F.aggregate(
        F.transform(
            toks,
            lambda t: F.greatest(
                F.lit(1), F.size(F.regexp_extract_all(t, F.lit(_SYLL_RE), 0))
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    wps = w.cast("double") / s.cast("double")
    spw = y.cast("double") / w.cast("double")
    return (
        d.filter(F.size(tokens(F.col("text"))) >= 1)
        .select(
            "doc_id",
            w.cast("bigint").alias("n_words"),
            s.cast("bigint").alias("n_sentences"),
            y.alias("n_syllables"),
            (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
                "flesch"
            ),
            (
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
            ).alias("fk_grade"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — chars-per-token economics per language
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
  CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
    AS total_pieces,
  CAST(SUM(COALESCE({_BPE_SQL}, 0)) AS BIGINT) AS total_bpe_tokens,
  CAST(SUM(length(text)) AS DOUBLE)
    / CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS DOUBLE)
    AS chars_per_piece,
  CAST(SUM(length(text)) AS DOUBLE)
    / CAST(SUM(COALESCE({_BPE_SQL}, 0)) AS DOUBLE) AS chars_per_bpe_token
FROM documents
GROUP BY lang
"""


@query("lang_token_fertility", oracle=_FERTILITY_ORACLE)
def q_lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — chars-per-token economics: the
    metric that decides whether a tokenizer (and therefore a token
    budget) is fair across languages, and the denominator of every
    cost-per-document estimate.  Reuses the BPE-ish piece regex and the
    ceil(len/4) subword estimate; all sums are exact integers, each
    ratio one correctly-rounded division.

    Scale shape: per-row regex work fans out with the scan
    (CPU-bound), then a map-side-combined rollup on the tiny lang
    key."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    est = F.aggregate(
        F.transform(
            pieces,
            lambda p: F.when(
                p.rlike("^[A-Za-z]+$"), F.ceil(F.length(p) / 4.0)
            ).otherwise(F.lit(1).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    agg = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(F.size(pieces).cast("bigint")).cast("bigint").alias("total_pieces"),
        F.sum(F.coalesce(est, F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("total_bpe_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "total_chars", "total_pieces", "total_bpe_tokens",
        (
            F.col("total_chars").cast("double")
            / F.col("total_pieces").cast("double")
        ).alias("chars_per_piece"),
        (
            F.col("total_chars").cast("double")
            / F.col("total_bpe_tokens").cast("double")
        ).alias("chars_per_bpe_token"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction — degree/frequency over stopword-split phrases
# ---------------------------------------------------------------------------

_STOP_LIST_SQL = "['" + "','".join(EN_STOPWORDS) + "']"

_RAKE_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKENIZE_SQL} AS toks FROM documents),
px AS (
  SELECT doc_id,
    unnest([{{'pos': i, 'tok': toks[i],
             'stp': CASE WHEN list_contains({_STOP_LIST_SQL}, toks[i])
                    THEN 1 ELSE 0 END}}
            for i in range(1, len(toks) + 1)]) AS u
  FROM t
),
ph AS (
  SELECT doc_id, u.tok AS tok, u.stp AS stp,
    SUM(u.stp) OVER (PARTITION BY doc_id ORDER BY u.pos
                     ROWS UNBOUNDED PRECEDING) AS pid
  FROM px
),
pl AS (
  SELECT doc_id, tok, pid, COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
  FROM ph WHERE stp = 0
),
wa AS (SELECT tok AS word, COUNT(*) AS frq, SUM(plen) AS deg FROM pl GROUP BY 1)
SELECT word, CAST(frq AS BIGINT) AS frq, CAST(deg AS BIGINT) AS deg,
  CAST(deg AS DOUBLE) / CAST(frq AS DOUBLE) AS rake_score
FROM wa WHERE frq >= 20
"""


@query("rake_keyword_scores", oracle=_RAKE_ORACLE)
def q_rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: tokens are segmented
    into candidate phrases at stopword boundaries (a running stopword
    count is the phrase id — the sessionize idiom applied to token
    streams), then each word scores degree/frequency where degree sums
    the lengths of every phrase containing it — words that live in long
    multi-word phrases outrank equally-frequent words that appear
    alone.  Counts are exact integers; the score is one division.

    Scale shape: posexplode fans tokens out with the scan; the
    phrase-id and phrase-length windows ride ONE shuffle on doc_id
    (position-ordered, never NULL); the word rollup map-side combines
    into vocabulary cardinality.  No all-pairs stage anywhere."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    tok = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).withColumn(
        "stp", F.array_contains(stop_arr, F.col("tok")).cast("int")
    )
    from pyspark.sql.window import Window as _W

    wp = _W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        _W.unboundedPreceding, 0
    )
    ph = tok.withColumn("pid", F.sum("stp").over(wp)).filter(F.col("stp") == 0)
    pl = ph.withColumn(
        "plen", F.count("*").over(_W.partitionBy("doc_id", "pid"))
    )
    wa = pl.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").cast("bigint").alias("frq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    return wa.filter(F.col("frq") >= 20).select(
        "word", "frq", "deg",
        (F.col("deg").cast("double") / F.col("frq").cast("double")).alias(
            "rake_score"
        ),
    )


# ---------------------------------------------------------------------------
# Greedy coverage selection — submodular corpus curation, 3 unrolled rounds
# ---------------------------------------------------------------------------

_COVER_ROUND_SQL = """
m{r} AS MATERIALIZED (
  SELECT b.doc_id, COUNT(*) AS g
  FROM big b
  LEFT JOIN c{p} c ON b.bg = c.bg
  WHERE c.bg IS NULL AND b.doc_id NOT IN (SELECT doc_id FROM picked{p})
  GROUP BY 1
),
w{r} AS MATERIALIZED (
  SELECT doc_id, g FROM m{r} ORDER BY g DESC, doc_id LIMIT 1
),
picked{r} AS MATERIALIZED (
  SELECT doc_id FROM picked{p} UNION ALL SELECT doc_id FROM w{r}
),
c{r} AS MATERIALIZED (
  SELECT bg FROM c{p}
  UNION
  SELECT b.bg FROM big b JOIN w{r} w ON b.doc_id = w.doc_id
)"""

_COVER_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENIZE_SQL} AS t FROM documents),
big AS MATERIALIZED (
  SELECT DISTINCT doc_id,
    t[CAST(i AS INTEGER)] || ' ' || t[CAST(i AS INTEGER) + 1] AS bg
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
c0 AS MATERIALIZED (SELECT bg FROM big WHERE FALSE),
picked0 AS MATERIALIZED (SELECT doc_id FROM big WHERE FALSE){"".join(
    "," + _COVER_ROUND_SQL.format(r=i + 1, p=i) for i in range(3))}
{" UNION ALL ".join(
    f"SELECT CAST({r} AS BIGINT) AS round, w{r}.doc_id,"
    f" CAST(w{r}.g AS BIGINT) AS marginal_gain,"
    f" CAST((SELECT COUNT(*) FROM c{r}) AS BIGINT) AS covered_after"
    f" FROM w{r}" for r in (1, 2, 3))}
"""


@query("greedy_coverage_docs", oracle=_COVER_ORACLE)
def q_greedy_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage corpus selection (3 unrolled rounds) —
    the submodular-curation primitive behind coreset picking and
    diversity-first data selection: each round selects the document
    adding the most not-yet-covered bigrams (ties → smallest doc_id)
    and folds its bigrams into the covered set.  The classic greedy
    carries the (1 − 1/e) approximation guarantee, and the bigram
    universe keeps the fixture from saturating in one pick (the
    unigram vocab is 31 tokens).  All gains are exact integers.

    Scale shape: the doc→bigram incidence builds once (distinct,
    checkpointed); each round is an anti-join against the covered set
    + a map-side-combined gain census + a 1-row TakeOrdered winner that
    broadcasts back.  The covered set grows by one document's bigrams
    per round and lives as a checkpointed key-only frame — at corpus
    scale this is the BPE-trainer loop shape (census + broadcast
    winner), never a rescan of text."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .select(
            "doc_id", F.concat_ws(" ", F.col("b.w1"), F.col("b.w2")).alias("bg")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    covered = None
    picked = None
    out = None
    for r in (1, 2, 3):
        cand = big
        if covered is not None:
            cand = cand.join(covered, "bg", "left_anti")
            cand = cand.join(F.broadcast(picked), "doc_id", "left_anti")
        marg = cand.groupBy("doc_id").agg(F.count("*").alias("g"))
        winner = (
            marg.orderBy(F.desc("g"), "doc_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        wdoc = winner.select("doc_id")
        newly = big.join(F.broadcast(wdoc), "doc_id", "semi").select("bg")
        covered = (
            newly
            if covered is None
            else covered.unionByName(newly).distinct()
        ).localCheckpoint(eager=True)
        picked = (
            wdoc if picked is None else picked.unionByName(wdoc)
        ).localCheckpoint(eager=True)
        ctot = covered.agg(F.count("*").cast("bigint").alias("covered_after"))
        row = winner.crossJoin(F.broadcast(ctot)).select(
            F.lit(r).cast("bigint").alias("round"),
            "doc_id",
            F.col("g").cast("bigint").alias("marginal_gain"),
            "covered_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Zipf rank-frequency audit — corpus health check for the token census
# ---------------------------------------------------------------------------

_ZIPF_HEAD = 100  # OLS over the top-100 ranks (the Zipf head)

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKENIZE_SQL}) AS tok FROM documents
  WHERE text IS NOT NULL
),
tf AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM tf
),
head AS (
  SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS xi,
         CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS yi
  FROM ranked WHERE r <= {_ZIPF_HEAD}
),
s AS (
  SELECT COUNT(*) AS n, SUM(xi) AS sx, SUM(yi) AS sy,
         SUM(xi * yi) AS sxy, SUM(xi * xi) AS sxx
  FROM head
)
SELECT CAST(n AS BIGINT) AS n_ranks,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
  (CAST(sy AS DOUBLE)
   - (CAST(n * sxy - sx * sy AS DOUBLE)
      / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
    / (CAST(n AS DOUBLE) * 1000000.0) AS log_intercept
FROM s
"""


@query("token_zipf_slope", oracle=_ZIPF_ORACLE)
def q_token_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: OLS slope of log(frequency) on log(rank) over
    the top-100 token ranks — natural text sits near slope −1, and a
    corpus whose head flattens (boilerplate floods) or steepens
    (near-duplicate spam) shows it here first, which makes this the
    one-row health gauge a training-data pipeline tracks per snapshot.

    Determinism: each log term is FLOOR(ln(x)·1e6) — quantized ONCE per
    rank, then the OLS moments are exact int64 sums (head of 100 ranks:
    every moment < 2^61) and the slope/intercept are closed-form double
    expressions over those exact sums, identical in both engines (the
    event_value_trend_ols discipline applied in log space; 1e6 not 1e9
    because Σxi·yi must stay inside int64).

    Scale shape: the census is one explode + map-side-combined count;
    ranking the head is a top-100 TakeOrdered (NOT a global sort — only
    100 rows ever rank); the OLS is a 1-row reduction.  Corpus size
    enters only through the census shuffle."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # top-100 by (c desc, tok): TakeOrdered, then rank the tiny head
    # (the global window runs over <= 100 rows, never the census)
    head = tf.orderBy(F.col("c").desc(), "tok").limit(_ZIPF_HEAD)
    w = Window.orderBy(F.col("c").desc(), "tok")
    quant = head.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("xi"),
        F.floor(F.log(F.col("c").cast("double")) * F.lit(1e6))
        .cast("bigint")
        .alias("yi"),
    )
    s = quant.agg(
        F.count("*").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return s.select(
        F.col("n").cast("bigint").alias("n_ranks"),
        slope.alias("zipf_slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(1e6))
        ).alias("log_intercept"),
    )


# ---------------------------------------------------------------------------
# Boolean conjunctive retrieval — posting-list intersection
# ---------------------------------------------------------------------------

_BOOLEAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok FROM documents
  WHERE text IS NOT NULL
),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
census AS (SELECT tok, SUM(c) AS tot FROM tf GROUP BY tok),
qterms AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY tot DESC, tok) AS r FROM census
  ) WHERE r BETWEEN 5 AND 7
)
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
  CAST(SUM(t.c) AS BIGINT) AS total_occurrences
FROM tf t JOIN qterms q ON t.tok = q.tok
GROUP BY t.doc_id
HAVING COUNT(*) = 3
"""


@query("boolean_and_retrieval", oracle=_BOOLEAN_ORACLE)
def q_boolean_and_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean conjunctive (AND) retrieval — the posting-list
    INTERSECTION primitive under every filtered search: documents
    containing ALL three query terms (here the corpus census ranks 5-7,
    a deterministic self-contained query), with their total term
    occurrences.  The group-count-equals-arity idiom IS the distributed
    posting intersection: join the (doc, term, tf) postings to the
    broadcast term set and keep docs matching the full arity — no
    per-term set materialization, no iterative intersect.

    Scale shape: postings aggregate once (map-side combined); the query
    side is 3 broadcast rows; the intersection is one group-by at doc
    grain over only the matching postings — cost tracks the SHORTEST
    posting list's selectivity times arity, the classic rarest-term
    bound (at 100 TB you'd order the join by ascending df for exactly
    that reason; with 3 broadcast terms the scan prunes identically).
    Complements bm25_more_like_this (ranked OR) and
    inverted_index_postings (the index itself) with the third
    retrieval mode: exact boolean."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    census = tf.groupBy("tok").agg(F.sum("c").alias("tot"))
    qterms = (
        census.orderBy(F.col("tot").desc(), "tok")
        .limit(7)
        .orderBy(F.col("tot").asc(), F.col("tok").desc())
        .limit(3)
        .select("tok")
    )
    return (
        tf.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.sum("c").cast("bigint").alias("total_occurrences"),
        )
        .filter(F.col("n_terms_matched") == 3)
    )


# ---------------------------------------------------------------------------
# Prefix autocomplete index — top completions per typed prefix
# ---------------------------------------------------------------------------

_AC_MAX_PREFIX = 4
_AC_TOPK = 3

_AUTOCOMPLETE_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKENIZE_SQL}) AS tok FROM documents
  WHERE text IS NOT NULL
),
tf AS (
  SELECT tok, COUNT(*) AS c FROM toks WHERE length(tok) >= 2 GROUP BY tok
),
pre AS (
  SELECT substring(tok, 1, CAST(p AS INTEGER)) AS prefix, tok, c
  FROM tf, unnest(range(1, {_AC_MAX_PREFIX + 1})) AS u(p)
  WHERE length(tok) >= p
),
ranked AS (
  SELECT prefix, tok, c,
    row_number() OVER (PARTITION BY prefix ORDER BY c DESC, tok) AS r
  FROM pre
)
SELECT prefix, tok AS completion, CAST(c AS BIGINT) AS freq,
  CAST(r AS BIGINT) AS rank
FROM ranked WHERE r <= {_AC_TOPK}
"""


@query("token_autocomplete_topk", oracle=_AUTOCOMPLETE_ORACLE)
def q_token_autocomplete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix AUTOCOMPLETE index — the search-as-you-type artifact: for
    every 1-4 character prefix, the top-3 completions by corpus
    frequency (ties by token — deterministic both engines on the ASCII
    vocabulary).  This is the third retrieval artifact beside the
    inverted index (exact term lookup) and BM25 (ranked relevance):
    the suggestion layer, built OFFLINE as a small keyed table a
    serving node loads whole.

    Scale shape: the term census aggregates once (map-side combined);
    the prefix fan-out multiplies the VOCABULARY (not the corpus) by at
    most 4; the per-prefix rank window partitions by prefix —
    vocabulary-sized state end to end, corpus size enters only through
    the census.  At 100 TB the census is the only big stage and the
    index is still megabytes."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    pre = tf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(F.length("tok"), F.lit(_AC_MAX_PREFIX))),
                lambda p: F.col("tok").substr(F.lit(1), p),
            )
        ).alias("prefix"),
        "tok",
        "c",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("prefix").orderBy(F.col("c").desc(), "tok")
    return (
        pre.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _AC_TOPK)
        .select(
            "prefix",
            F.col("tok").alias("completion"),
            F.col("c").cast("bigint").alias("freq"),
            F.col("r").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Phrase retrieval over the positional index — the fourth retrieval mode
# ---------------------------------------------------------------------------

_PHRASE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENIZE_SQL} AS l FROM documents WHERE text IS NOT NULL
),
bigrams AS (
  SELECT d.doc_id, d.l[i] AS t1, d.l[i + 1] AS t2
  FROM docs d, unnest(range(1, len(d.l))) AS u(i)
),
top1 AS (
  SELECT t1, t2 FROM (
    SELECT t1, t2,
      row_number() OVER (ORDER BY COUNT(*) DESC, t1, t2) AS r
    FROM bigrams GROUP BY t1, t2
  ) WHERE r = 1
),
per_doc AS (
  SELECT b.doc_id, COUNT(*) AS n_occurrences
  FROM bigrams b JOIN top1 USING (t1, t2)
  GROUP BY b.doc_id
)
SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM (
  SELECT doc_id, n_occurrences,
    row_number() OVER (ORDER BY n_occurrences DESC, doc_id) AS r
  FROM per_doc
) WHERE r <= 20
"""


@query("phrase_retrieval_topk", oracle=_PHRASE_ORACLE)
def q_phrase_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE retrieval over a POSITIONAL inverted index — the fourth
    retrieval mode (beside ranked-OR BM25, conjunctive boolean AND,
    and the raw index): top-20 documents by occurrence count of the
    corpus' most frequent bigram (a deterministic self-contained
    phrase query, census tie-broken lexicographically).  The phrase
    match is the positional-join idiom real engines execute against a
    stored positional index: posting rows (doc, pos) of term 1
    equi-joined to (doc, pos+1) rows of term 2 — adjacency resolved by
    KEY, never by re-scanning text, so a k-word phrase is k−1 chained
    positional joins.

    The phrase is selected by a tail-zip bigram census (an array map,
    no join); the retrieval leg then touches ONLY the two terms'
    posting lists (each pruned by a 1-row broadcast), so query cost
    tracks the shorter posting list — the property that makes phrase
    queries serveable at 100 TB where a text rescan is not.  Top-20 is
    TakeOrderedAndProject with a doc_id tiebreak.

    Overlapping occurrences each count (both engines state adjacency
    at every position i)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    toks = tokens(F.col("text"))
    # census leg: tail-zip bigram counts (array map, no positional join)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
    )
    census = (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count("*").alias("c"))
    )
    top1 = census.orderBy(F.col("c").desc(), "t1", "t2").limit(1).select(
        "t1", "t2"
    )
    # retrieval leg: the positional index, pruned per term by the
    # broadcast phrase, adjacency via the (doc, pos+1) equi-join
    pos = d.select(
        "doc_id", F.posexplode(toks).alias("i", "tok")
    )
    p1 = pos.join(
        F.broadcast(top1.select(F.col("t1").alias("tok"))), "tok"
    ).select("doc_id", F.col("i").alias("i1"))
    p2 = pos.join(
        F.broadcast(top1.select(F.col("t2").alias("tok"))), "tok"
    ).select(F.col("doc_id").alias("doc_id2"), F.col("i").alias("i2"))
    hits = p1.join(
        p2,
        (F.col("doc_id") == F.col("doc_id2"))
        & (F.col("i2") == F.col("i1") + 1),
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    return per_doc.orderBy(
        F.col("n_occurrences").desc(), "doc_id"
    ).limit(20)


# ---------------------------------------------------------------------------
# AMS / tug-of-war F2 sketch — the second-moment estimator, made exact
# ---------------------------------------------------------------------------

_AMS_ROWS = 16

_AMS_SIGN_SQL = (
    "CASE WHEN "
    + _dedup._SHINGLE_INT_SQL.format(
        x="concat(CAST({j} AS VARCHAR), ':', {tok})"
    )
    + " % 2 = 1 THEN 1 ELSE -1 END"
)

_AMS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENIZE_SQL}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
s_full AS (
  SELECT r.j AS j,
    SUM(({_AMS_SIGN_SQL.format(j='r.j', tok='tf.tok')}) * tf.c) AS s
  FROM tf CROSS JOIN range({_AMS_ROWS}) r(j)
  GROUP BY r.j
),
tf_half AS (
  SELECT doc_id % 2 AS h, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
),
s_half AS (
  SELECT t.h, r.j AS j,
    SUM(({_AMS_SIGN_SQL.format(j='r.j', tok='t.tok')}) * t.c) AS s
  FROM tf_half t CROSS JOIN range({_AMS_ROWS}) r(j)
  GROUP BY 1, 2
),
s_merged AS (SELECT j, SUM(s) AS s FROM s_half GROUP BY j),
est AS (
  SELECT f.j, f.s, f.s * f.s AS e, (f.s = m.s) AS merge_consistent
  FROM s_full f JOIN s_merged m USING (j)
),
globals AS (
  SELECT
    (SELECT CAST(SUM(c * c) AS BIGINT) FROM tf) AS f2_exact,
    CAST(SUM(e) AS DOUBLE) / {_AMS_ROWS}.0 AS f2_est_mean,
    (SELECT CAST(SUM(e) AS DOUBLE) / 2.0 FROM (
       SELECT e, row_number() OVER (ORDER BY e, j) AS rn FROM est
     ) WHERE rn IN ({_AMS_ROWS // 2}, {_AMS_ROWS // 2 + 1})) AS f2_est_median
  FROM est
)
SELECT e.j AS sketch_row, CAST(e.s AS BIGINT) AS s,
  CAST(e.e AS BIGINT) AS s_squared, e.merge_consistent,
  g.f2_exact, g.f2_est_mean, g.f2_est_median
FROM est e CROSS JOIN globals g
"""


@query("ams_f2_audit", oracle=_AMS_ORACLE)
def q_ams_f2_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch (Alon-Matias-Szegedy '96) of the corpus
    token-frequency SECOND MOMENT F2 = Σ c² — the join-size /
    self-join-cardinality estimator and skew gauge — made fully
    deterministic with md5-parity ±1 signs (the countmin discipline:
    the sketch VALUES hash cross-engine, not just a bound).  Each of
    the 16 sketch rows is s_j = Σ_tok sign_j(tok)·c_tok; s_j² is an
    unbiased F2 estimate, reported per row plus the mean and the exact
    even-count median (avg of order stats 8 and 9 under a total
    ordering).

    The MERGE law receipt: the corpus split into two doc_id-parity
    shards, each sketched from its OWN census, merges by plain vector
    ADDITION — merge_consistent asserts the merged state equals the
    whole-corpus sketch per row (linearity is what lets 1000 executors
    sketch independently; same algebra family as count-min's +, KMV's
    set-union, HLL's MAX).

    Scale shape: the census is one map-side-combined shuffle; the
    16-row sign expansion happens at VOCABULARY grain (16 md5s per
    distinct token, never per occurrence); every downstream state is
    16 integers."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )

    def signed(tf: DataFrame, *keys: str) -> DataFrame:
        js = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.when(
                        _dedup._shingle_int(
                            F.concat(F.lit(str(j)), F.lit(":"), F.col("tok"))
                        )
                        % 2
                        == 1,
                        F.lit(1),
                    )
                    .otherwise(F.lit(-1))
                    .alias("sign"),
                )
                for j in range(_AMS_ROWS)
            ]
        )
        return (
            tf.select(*keys, "c", F.explode(js).alias("x"))
            .groupBy(*keys, F.col("x.j").alias("j"))
            .agg(F.sum(F.col("x.sign") * F.col("c")).alias("s"))
        )

    tf_full = toks.groupBy("tok").agg(F.count("*").alias("c"))
    s_full = signed(tf_full)
    tf_half = toks.groupBy(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("h"), "tok"
    ).agg(F.count("*").alias("c"))
    s_merged = (
        signed(tf_half, "h")
        .groupBy("j")
        .agg(F.sum("s").alias("ms"))
    )
    est = s_full.join(s_merged, "j").select(
        "j",
        "s",
        (F.col("s") * F.col("s")).alias("e"),
        (F.col("s") == F.col("ms")).alias("merge_consistent"),
    )
    from pyspark.sql.window import Window

    f2_exact = tf_full.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact")
    )
    # 16-row frame: the global window is bounded by construction
    w = Window.orderBy("e", "j")
    med = (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").isin(_AMS_ROWS // 2, _AMS_ROWS // 2 + 1))
        .agg((F.sum("e").cast("double") / F.lit(2.0)).alias("f2_est_median"))
    )
    mean = est.agg(
        (F.sum("e").cast("double") / F.lit(float(_AMS_ROWS))).alias(
            "f2_est_mean"
        )
    )
    return (
        est.crossJoin(F.broadcast(f2_exact))
        .crossJoin(F.broadcast(mean))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("j").cast("bigint").alias("sketch_row"),
            F.col("s").cast("bigint").alias("s"),
            F.col("e").cast("bigint").alias("s_squared"),
            "merge_consistent",
            "f2_exact",
            "f2_est_mean",
            "f2_est_median",
        )
    )


# ---------------------------------------------------------------------------
# Hard-EM unigram-LM trainer round — E-step (on-path piece census via
# forward+backward DP), prune, M-step re-cost, re-segment (Kudo 2018's
# trainer loop, one iteration, deterministic hard-count form)
# ---------------------------------------------------------------------------

_EM_ROUNDS = 8  # words capped at 8 chars for the trainer fixture
_EM_PIECE_MAX = 4


def _em_round_sql(src: str, dst: str, edges: str, direction: str) -> str:
    """One min-plus relaxation round as a MATERIALIZED CTE.
    direction 'fwd' relaxes pos j -> i, 'bwd' relaxes pos i -> j."""
    on, to = ("j", "i") if direction == "fwd" else ("i", "j")
    return f"""{dst} AS MATERIALIZED (
  SELECT w, pos, MIN(pk) AS pk FROM (
    SELECT w, pos, pk FROM {src}
    UNION ALL
    SELECT e.w, e.{to} AS pos, d.pk + e.c16
    FROM {src} d JOIN {edges} e ON d.w = e.w AND d.pos = e.{on}
  ) GROUP BY 1, 2
)"""


def _em_dp_sql(prefix: str, init: str, edges: str, direction: str) -> str:
    parts = [init]
    for r in range(1, _EM_ROUNDS + 1):
        src = f"{prefix}{r - 1}"
        parts.append(_em_round_sql(src, f"{prefix}{r}", edges, direction))
    return ",\n".join(parts)


_EM_ORACLE = f"""
WITH tok AS (
  SELECT unnest(str_split_regex(
    {_dedup._ASCII_FOLD_SQL.format(x='trim(text)')}, '\\s+')) AS w
  FROM documents WHERE text IS NOT NULL
),
words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wf FROM tok
  WHERE len(w) BETWEEN 1 AND {_EM_ROUNDS} GROUP BY w
),
edges AS MATERIALIZED (
  SELECT w, wf, j.j AS j, j.j + k.k AS i,
    substr(w, CAST(j.j + 1 AS INTEGER), CAST(k.k AS INTEGER)) AS piece
  FROM words, range(0, {_EM_ROUNDS}) j(j), range(1, {_EM_PIECE_MAX + 1}) k(k)
  WHERE j.j + k.k <= len(w)
),
census AS MATERIALIZED (SELECT piece, SUM(wf) AS cnt FROM edges GROUP BY piece),
ec AS MATERIALIZED (
  SELECT e.w, e.j, e.i, e.piece,
    16 * (1000000000000 // c.cnt) + 1 AS c16
  FROM edges e JOIN census c ON e.piece = c.piece
),
{_em_dp_sql("f", "f0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS pk FROM words)", "ec", "fwd")},
tot AS MATERIALIZED (
  SELECT w, pk FROM f{_EM_ROUNDS} WHERE pos = len(w)
),
{_em_dp_sql("b", f"b0 AS (SELECT w, len(w) AS pos, CAST(0 AS BIGINT) AS pk FROM words)", "ec", "bwd")},
usage AS MATERIALIZED (
  -- E-step: a piece occurrence is counted iff its edge lies on an
  -- optimal (cost, fewest-pieces) path: fwd[j] + c16 + bwd[i] == total
  SELECT e.piece, CAST(SUM(wd.wf) AS BIGINT) AS used
  FROM ec e
  JOIN f{_EM_ROUNDS} f ON f.w = e.w AND f.pos = e.j
  JOIN b{_EM_ROUNDS} b ON b.w = e.w AND b.pos = e.i
  JOIN tot t ON t.w = e.w
  JOIN words wd ON wd.w = e.w
  WHERE f.pk + e.c16 + b.pk = t.pk
  GROUP BY e.piece
),
vocab2 AS MATERIALIZED (
  -- M-step + prune: multi-char pieces with zero on-path usage drop;
  -- single chars are always kept (segmentability), floored at count 1
  SELECT c.piece,
    16 * (1000000000000 // GREATEST(COALESCE(u.used, 0), 1)) + 1 AS c16
  FROM census c LEFT JOIN usage u ON u.piece = c.piece
  WHERE len(c.piece) = 1 OR COALESCE(u.used, 0) > 0
),
ec2 AS MATERIALIZED (
  SELECT e.w, e.j, e.i, e.piece, v.c16
  FROM edges e JOIN vocab2 v ON v.piece = e.piece
),
{_em_dp_sql("g", "g0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS pk FROM words)", "ec2", "fwd")},
tot2 AS MATERIALIZED (
  SELECT w, pk FROM g{_EM_ROUNDS} WHERE pos = len(w)
),
scal AS (
  SELECT
    (SELECT COUNT(*) FROM census) AS vocab_before,
    (SELECT COUNT(*) FROM vocab2) AS vocab_after,
    (SELECT COUNT(*) FROM words) = (SELECT COUNT(*) FROM tot2)
      AS all_segmentable,
    (SELECT SUM(wd.wf * (t.pk // 16)) FROM tot t JOIN words wd ON wd.w = t.w)
      AS corpus_cost0,
    (SELECT SUM(wd.wf * (t.pk // 16)) FROM tot2 t JOIN words wd ON wd.w = t.w)
      AS corpus_cost1
)
SELECT wd.w AS word, wd.wf,
  CAST(t.pk // 16 AS BIGINT) AS cost0_i,
  CAST(t.pk % 16 AS BIGINT) AS pieces0,
  CAST(t2.pk // 16 AS BIGINT) AS cost1_i,
  CAST(t2.pk % 16 AS BIGINT) AS pieces1,
  CAST((SELECT vocab_before FROM scal) AS BIGINT) AS vocab_before,
  CAST((SELECT vocab_after FROM scal) AS BIGINT) AS vocab_after,
  CAST((SELECT corpus_cost0 FROM scal) AS BIGINT) AS corpus_cost0,
  CAST((SELECT corpus_cost1 FROM scal) AS BIGINT) AS corpus_cost1,
  (SELECT all_segmentable FROM scal) AS all_segmentable
FROM words wd
JOIN tot t ON t.w = wd.w
JOIN tot2 t2 ON t2.w = wd.w
ORDER BY wd.wf DESC, wd.w
LIMIT 20
"""


def _em_word_dp_sql(es: str, wlen: str, direction: str) -> str:
    """Whole min-plus DP of ONE word as a JVM array fold (r14
    optimization): the DP state (w, pos, pk) never crosses words —
    every edge relaxes positions WITHIN its word — so after grouping
    the costed edges per word the fixpoint the round-relaxation loop
    reached in ``_EM_ROUNDS`` cluster rounds is computable as
    ``aggregate(sequence(1, wlen), ...)`` filling positions in
    topological order (fwd: 1..wlen from acc[0]=0; bwd: wlen-1..0 from
    acc[wlen]=0).  Identical integer arithmetic and MIN tie semantics,
    zero per-round shuffles or eager barriers; the result equals the
    round form because with positions filled in order every shortest
    path is complete when its endpoint is filled (paths use <= wlen
    edges, the bound the round unroll relied on).  Unreachable
    positions stay NULL, mirroring rows absent from the relax state.
    Every lambda var is unique (emacc/emp/emx/emxi/eme/emf — the
    Louvain-fold shadowing lesson)."""
    if direction == "fwd":
        init = (
            f"concat(array(CAST(0 AS BIGINT)),"
            f" array_repeat(CAST(NULL AS BIGINT), {wlen}))"
        )
        pos = "emp"
        relax = (
            f"array_min(transform(filter({es},"
            f" eme -> eme.i = emp AND emacc[eme.j] IS NOT NULL),"
            f" emf -> emacc[emf.j] + emf.c16))"
        )
    else:
        init = (
            f"concat(array_repeat(CAST(NULL AS BIGINT), {wlen}),"
            f" array(CAST(0 AS BIGINT)))"
        )
        pos = f"{wlen} - emp"
        relax = (
            f"array_min(transform(filter({es},"
            f" eme -> eme.j = {wlen} - emp AND emacc[eme.i] IS NOT NULL),"
            f" emf -> emf.c16 + emacc[emf.i]))"
        )
    return (
        f"aggregate(sequence(1, {wlen}), {init},"
        f" (emacc, emp) -> transform(emacc,"
        f" (emx, emxi) -> IF(emxi = {pos}, {relax}, emx)))"
    )


@query("unigram_em_round", oracle=_EM_ORACLE)
def q_unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HARD-EM round of the unigram-LM tokenizer TRAINER (Kudo
    2018 — the SentencePiece loop: segment, re-estimate, prune), the
    trainer composition that viterbi_segment_stats' inference step
    slots into:

    - E-STEP: piece usage counted over optimal segmentations WITHOUT
      backtracking — an edge (w, j→i) lies on an optimal path iff
      fwd[j] + cost + bwd[i] == total[w], with fwd/bwd the packed
      min-plus DPs from each end (the on-path censusing trick; ties
      counted on every optimal path, a deterministic hard-count
      variant both engines reproduce exactly).
    - PRUNE + M-STEP: multi-char pieces with ZERO on-path usage leave
      the vocabulary (the SentencePiece prune); single characters are
      always kept so every word stays segmentable; surviving pieces
      re-cost from their usage census (integer 1e12 div usage, the
      viterbi quantization).
    - RE-SEGMENT: the forward DP re-runs on the pruned, re-costed
      vocabulary; per-word costs and piece counts before/after are
      emitted with the corpus totals and vocabulary sizes
      (vocab_after < vocab_before is the prune receipt; corpus cost
      movement is emitted, not asserted — hard-EM with unnormalized
      integer costs is not theoretically monotone, and the fixture
      numbers are pinned in tests/test_plans.py).

    Scale shape: everything runs at the DISTINCT-WORD grain off the
    one corpus-wide word-count shuffle (the BPE/viterbi economics);
    the DPs are WORD-LOCAL (every edge relaxes positions within its
    word), so after one group-edges-per-word exchange the fwd/bwd DPs
    and the re-segmentation run as JVM array folds inside the word
    rows — zero per-round shuffles, zero iteration barriers (r14
    optimization, guide §1.2/§2.4: was 3 chains × {_EM_ROUNDS} relax
    rounds of join+union+groupBy with checkpoint cadence, measured
    job-count-bound at 106 Spark jobs); the E-step census explodes
    the on-path edges from the same word rows — vocabulary-sized,
    map-side combined.  A production trainer iterates this round and
    prunes by likelihood-loss quantile instead of zero-usage — same
    plan, different threshold."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    tok = d.select(
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("w")
    )
    words = (
        tok.filter(F.length("w").between(1, _EM_ROUNDS))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("wf"))
        .localCheckpoint(eager=True)
    )
    edges = (
        words.select(
            "w",
            "wf",
            F.explode(F.sequence(F.lit(0), F.length("w") - 1)).alias("j"),
        )
        .select(
            "w",
            "wf",
            "j",
            F.explode(F.sequence(F.lit(1), F.lit(_EM_PIECE_MAX))).alias(
                "k"
            ),
        )
        .filter(F.col("j") + F.col("k") <= F.length("w"))
        .select(
            "w",
            "wf",
            "j",
            (F.col("j") + F.col("k")).alias("i"),
            F.expr("substring(w, j + 1, k)").alias("piece"),
        )
    )
    census = (
        edges.groupBy("piece")
        .agg(F.sum("wf").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # costed edges grouped PER WORD: the one exchange the word-local
    # DPs need; fwd, bwd and the total all come out of the same pass
    ecg = (
        edges.join(census, "piece")
        .select(
            "w",
            "j",
            "i",
            "piece",
            (16 * F.expr("1000000000000 div cnt") + 1).alias("c16"),
        )
        .groupBy("w")
        .agg(
            F.collect_list(F.struct("j", "i", "piece", "c16")).alias("eds")
        )
    )
    wd = (
        words.join(ecg, "w")
        .withColumn("wlen", F.length("w"))
        .withColumn("fwdarr", F.expr(_em_word_dp_sql("eds", "wlen", "fwd")))
        .withColumn("bwdarr", F.expr(_em_word_dp_sql("eds", "wlen", "bwd")))
        .withColumn("tpk", F.expr("fwdarr[wlen]"))
        .localCheckpoint(eager=True)
    )
    # E-step census: an edge is on an optimal path iff fwd[j] + cost +
    # bwd[i] == total — NULL (unreachable) endpoints compare NULL and
    # drop, mirroring rows absent from the old relax state
    usage = (
        wd.filter(F.col("tpk").isNotNull())
        .select(
            "wf", "tpk", "fwdarr", "bwdarr", F.explode("eds").alias("em")
        )
        .filter(
            F.expr("fwdarr[em.j] + em.c16 + bwdarr[em.i]") == F.col("tpk")
        )
        .groupBy(F.col("em.piece").alias("piece"))
        .agg(F.sum("wf").cast("bigint").alias("used"))
    )
    vocab2 = (
        census.join(usage, "piece", "left")
        .filter(
            (F.length("piece") == 1)
            | (F.coalesce(F.col("used"), F.lit(0)) > 0)
        )
        .select(
            "piece",
            (
                16
                * F.expr(
                    "1000000000000 div greatest(coalesce(used, 0), 1)"
                )
                + 1
            ).alias("c16"),
        )
        .localCheckpoint(eager=True)
    )
    # re-segment on the pruned vocabulary: same group-per-word + fold
    ecg2 = (
        edges.select("w", "j", "i", "piece")
        .join(vocab2, "piece")
        .groupBy("w")
        .agg(F.collect_list(F.struct("j", "i", "c16")).alias("eds"))
    )
    wd2 = (
        words.select("w", "wf")
        .join(ecg2, "w")
        .withColumn("wlen", F.length("w"))
        .withColumn("fwd2", F.expr(_em_word_dp_sql("eds", "wlen", "fwd")))
        .localCheckpoint(eager=True)
    )
    tot2 = wd2.select(
        "w", "wf", F.expr("fwd2[wlen]").alias("tpk2")
    ).filter(F.col("tpk2").isNotNull())
    seg_ok = (
        words.agg(F.count("*").alias("nw"))
        .crossJoin(F.broadcast(tot2.agg(F.count("*").alias("ns"))))
        .select((F.col("nw") == F.col("ns")).alias("all_segmentable"))
    )
    reach = wd.filter(F.col("tpk").isNotNull())
    scal = (
        census.agg(F.count("*").alias("vocab_before"))
        .crossJoin(
            F.broadcast(vocab2.agg(F.count("*").alias("vocab_after")))
        )
        .crossJoin(
            F.broadcast(
                reach.agg(
                    F.sum(F.col("wf") * F.expr("tpk div 16")).alias(
                        "corpus_cost0"
                    )
                )
            )
        )
        .crossJoin(
            F.broadcast(
                tot2.agg(
                    F.sum(F.col("wf") * F.expr("tpk2 div 16")).alias(
                        "corpus_cost1"
                    )
                )
            )
        )
        .crossJoin(F.broadcast(seg_ok))
    )
    return (
        reach.select("w", "wf", "tpk")
        .join(tot2.select("w", "tpk2"), "w")
        .crossJoin(F.broadcast(scal))
        .select(
            F.col("w").alias("word"),
            "wf",
            F.expr("tpk div 16").cast("bigint").alias("cost0_i"),
            (F.col("tpk") % 16).cast("bigint").alias("pieces0"),
            F.expr("tpk2 div 16").cast("bigint").alias("cost1_i"),
            (F.col("tpk2") % 16).cast("bigint").alias("pieces1"),
            F.col("vocab_before").cast("bigint").alias("vocab_before"),
            F.col("vocab_after").cast("bigint").alias("vocab_after"),
            F.col("corpus_cost0").cast("bigint").alias("corpus_cost0"),
            F.col("corpus_cost1").cast("bigint").alias("corpus_cost1"),
            "all_segmentable",
        )
        .orderBy(F.col("wf").desc(), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Query-likelihood retrieval with Dirichlet smoothing — the language-
# modeling ranker beside BM25's probabilistic-relevance one
# ---------------------------------------------------------------------------

_QL_MU = 2000  # Dirichlet prior mass (Zhai & Lafferty's standard choice)
_QL_LNQ = "CAST(FLOOR(1000000000.0 * ln(CAST({x} AS DOUBLE))) AS BIGINT)"

_QL_ORACLE = f"""
WITH docs_t AS (
  SELECT doc_id,
    str_split_regex({_dedup._ASCII_FOLD_SQL.format(x='trim(text)')},
                    '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(t) AS dl FROM docs_t),
st AS (SELECT CAST(SUM(dl) AS BIGINT) AS s FROM dl),
toks AS (SELECT doc_id, unnest(t) AS tok FROM docs_t),
qt AS (SELECT DISTINCT tok FROM toks WHERE doc_id = 0),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM qt),
cfreq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf
  FROM toks JOIN qt USING (tok) GROUP BY tok
),
tf AS (
  SELECT k.doc_id, k.tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks k JOIN qt USING (tok) GROUP BY 1, 2
),
qconst AS (
  SELECT COALESCE(CAST(SUM(
      {_QL_LNQ.format(x=f'{_QL_MU} * cf')}
    - {_QL_LNQ.format(x='st.s')}) AS BIGINT), CAST(0 AS BIGINT)) AS c0
  FROM cfreq CROSS JOIN st
),
aq AS (
  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
    CAST(SUM(
      {_QL_LNQ.format(x=f'tf.tf * st.s + {_QL_MU} * c.cf')}
    - {_QL_LNQ.format(x=f'{_QL_MU} * c.cf')}) AS BIGINT) AS sa
  FROM tf JOIN cfreq c USING (tok) CROSS JOIN st
  GROUP BY tf.doc_id
),
scored AS (
  SELECT d.doc_id,
    COALESCE(a.n_terms, CAST(0 AS BIGINT)) AS n_terms,
    COALESCE(a.sa, CAST(0 AS BIGINT)) + q.c0
      - n.nq * {_QL_LNQ.format(x=f'd.dl + {_QL_MU}')} AS sq
  FROM dl d
  LEFT JOIN aq a USING (doc_id)
  CROSS JOIN qconst q CROSS JOIN nq n
)
SELECT doc_id, n_terms, CAST(sq AS BIGINT) AS ql_q,
  CAST(sq AS DOUBLE) / 1000000000.0 AS ql_score
FROM scored ORDER BY sq DESC, doc_id LIMIT 15
"""


@query("ql_dirichlet_retrieval", oracle=_QL_ORACLE)
def q_ql_dirichlet_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing (Zhai &
    Lafferty 2001, μ = {_QL_MU}) — the language-modeling ranker that
    completes the classical-retrieval pair (BM25 scores probabilistic
    relevance; QL scores P(query | doc's smoothed unigram LM); every
    IR shootout quotes both).  Query-by-example on document 0's
    distinct tokens, the bm25_more_like_this convention.

    Engine-exactness: the score telescopes into
    Σ_{{t∈q∩d}} [ln(tf·T + μ·cf) − ln(μ·cf)]  +  Σ_{{t∈q}} ln(μ·cf/T)
    − |q|·ln(dl + μ), so EVERY document has a defined score (the
    smoothing-only floor) — unlike BM25 the no-match docs rank by
    length alone; each ln argument is an exact int64 rational
    numerator (tf·T ≤ ~1e11), each term FLOOR-quantized at the 1e-9
    grain (the DGA/linkage ln discipline) and summed exactly — no
    SUM(double); top-15 orders by the integer score.

    Scale shape: identical to BM25 — the query term set and its
    corpus-frequency table broadcast; tf is the one postings-grain
    shuffle; the per-doc fold joins on doc_id; top-15 is
    TakeOrderedAndProject.  At 100 TB: per-query work ∝ the query
    terms' postings plus one doc-directory-sized length scan."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    st = dl.agg(F.sum("dl").cast("bigint").alias("s"))
    qt = toks.filter(F.col("doc_id") == 0).select("tok").distinct()
    nqf = qt.agg(F.count("*").cast("bigint").alias("nq"))
    cfreq = (
        toks.join(F.broadcast(qt), "tok")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cf"))
    )
    tf = (
        toks.join(F.broadcast(qt), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    lnq = lambda col: F.floor(  # noqa: E731
        F.lit(1000000000.0) * F.log(col.cast("double"))
    ).cast("bigint")
    qconst = (
        cfreq.crossJoin(F.broadcast(st))
        .select(
            (
                lnq(F.lit(_QL_MU) * F.col("cf")) - lnq(F.col("s"))
            ).alias("t")
        )
        .agg(
            F.coalesce(
                F.sum("t").cast("bigint"), F.lit(0).cast("bigint")
            ).alias("c0")
        )
    )
    aq = (
        tf.join(F.broadcast(cfreq), "tok")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            (
                lnq(F.col("tf") * F.col("s") + F.lit(_QL_MU) * F.col("cf"))
                - lnq(F.lit(_QL_MU) * F.col("cf"))
            ).alias("t"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("t").cast("bigint").alias("sa"),
        )
    )
    z = F.lit(0).cast("bigint")
    scored = (
        dl.join(aq, "doc_id", "left")
        .crossJoin(F.broadcast(qconst))
        .crossJoin(F.broadcast(nqf))
        .select(
            "doc_id",
            F.coalesce(F.col("n_terms"), z).alias("n_terms"),
            (
                F.coalesce(F.col("sa"), z)
                + F.col("c0")
                - F.col("nq") * lnq(F.col("dl") + F.lit(_QL_MU))
            ).alias("sq"),
        )
    )
    return (
        scored.orderBy(F.col("sq").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            "n_terms",
            F.col("sq").cast("bigint").alias("ql_q"),
            (F.col("sq").cast("double") / F.lit(1000000000.0)).alias(
                "ql_score"
            ),
        )
    )
