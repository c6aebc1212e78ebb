"""IOC pipeline queries — the reference's §3.1 batch pipeline restated as
one declarative Spark job (SURVEY.md §7.2 flagship).

Pipeline: synthetic feed → subject filter (h-isac.py:158) → reply-chain
truncation (h-isac.py:51-67) → 4× regexp_extract_all (h-isac.py:70-79) →
refang / mailto-strip (h-isac.py:46-49,84) → explode to the canonical
8-column IOC table (README.md:13-29) → metrics aggregation
(h-isac.py:171-174).

Scale notes: the whole pipeline is narrow (no shuffle) until the final
aggregations; extraction is 4 regex passes inside one whole-stage-codegen
stage over the scan, so it partitions embarrassingly at 100 TB.  The
per-message pandas concat loop of the reference (h-isac.py:156-163)
simply does not exist here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import ioc as K
from ..sources.readers import FEED_CTE_SQL, RUN_DATE, synthetic_feed
from .registry import query

# DuckDB mirrors of the kernel expressions (RE2 dialect: backreference \1,
# explicit 'g' flag for replace-all).
_SQL_REFANG = (
    "regexp_replace(regexp_replace({x}, 'h[xX]{{2}}p([s:])', 'http\\1', 'g'),"
    " '\\[([.@])\\]', '\\1', 'g')"
)
_SQL_CLEAN = (
    "regexp_replace(body, '(?s)(^|\\n)[^\\n]*From: H-ISAC Amber.*$', '')"
)

# shared oracle prefix: feed → subject filter → clean → 4 extraction lists
_EXTRACT_CTE = f"""
WITH {FEED_CTE_SQL},
cleaned AS (
  SELECT id, source, date_received, {_SQL_CLEAN} AS body
  FROM feed
  WHERE contains(lower(subject), 'indicator')
),
extracted AS (
  SELECT id, source, date_received,
    list_transform(regexp_extract_all(body, '{K.IP_PATTERN}', 1),
                   x -> {_SQL_REFANG.format(x='x')}) AS ips,
    regexp_extract_all(body, '{K.HASH_PATTERN}', 1) AS hashes,
    list_transform(regexp_extract_all(body, '{K.URL_PATTERN}', 1),
                   x -> {_SQL_REFANG.format(x='x')}) AS urls,
    list_transform(regexp_extract_all(body, '{K.EMAIL_PATTERN}', 1),
                   x -> regexp_replace({_SQL_REFANG.format(x='x')}, '^mailto:', '')) AS emails
  FROM cleaned
),
ioc_rows AS (
  SELECT id, source, date_received, 'ip' AS type, unnest(ips) AS ioc FROM extracted
  UNION ALL
  SELECT id, source, date_received, 'hash', unnest(hashes) FROM extracted
  UNION ALL
  SELECT id, source, date_received, 'url', unnest(urls) FROM extracted
  UNION ALL
  SELECT id, source, date_received, 'email', unnest(emails) FROM extracted
)
"""


def ioc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical 8-column IOC table (README.md:13-29) from the feed."""
    feed = synthetic_feed(spark, sf_dir)
    filtered = feed.filter(F.lower(F.col("subject")).contains("indicator"))
    return K.explode_iocs(
        filtered,
        F.col("body"),
        "H-ISAC",
        id=F.col("id"),
        date_added=F.lit(RUN_DATE),
        date_received=F.col("date_received"),
        source=F.col("source"),
        tag=F.lit("N/A"),
    )


@query(
    "ioc_flagship",
    oracle=_EXTRACT_CTE
    + f"""
SELECT id, '{RUN_DATE}' AS date_added, date_received, ioc,
       'H-ISAC' AS platform, source, 'N/A' AS tag, type
FROM ioc_rows
""",
)
def q_ioc_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ioc_table(spark, sf_dir)


@query(
    "ioc_type_counts",
    oracle=_EXTRACT_CTE
    + """
SELECT type, count(*) AS n_iocs, count(DISTINCT ioc) AS n_distinct
FROM ioc_rows GROUP BY type
""",
)
def q_ioc_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics aggregation (A1, h-isac.py:171-174) + distinct-IOC count —
    the dedup the reference never does (SURVEY.md §2.7)."""
    return (
        ioc_table(spark, sf_dir)
        .groupBy("type")
        .agg(
            F.count("*").alias("n_iocs"),
            F.count_distinct("ioc").alias("n_distinct"),
        )
    )


@query(
    "ioc_per_source_daily",
    oracle=_EXTRACT_CTE
    + """
SELECT source, date_received, count(*) AS n_iocs
FROM ioc_rows
GROUP BY source, date_received
""",
)
def q_ioc_per_source_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-contributor daily IOC volume — the grouping the README's `id`
    field exists for (README.md:15)."""
    return (
        ioc_table(spark, sf_dir)
        .groupBy("source", "date_received")
        .agg(F.count("*").alias("n_iocs"))
    )


# --- batch tweet pipeline (§3.2 end-to-end) -------------------------------
# deterministic tweet-JSON envelopes built from `documents`, run through
# the REAL streaming-path code (parse_tweets → tweets_to_ioc_rows); the
# oracle computes the equivalent result directly from the payload text.

_TWEET_TEXT_SQL = """
(CASE WHEN doc_id % 11 = 0 THEN 'RT @bot ' ELSE '' END)
  || 'alert ' || CAST(doc_id % 223 + 1 AS VARCHAR) || '[.]' || CAST(doc_id % 251 AS VARCHAR)
  || '.' || CAST(doc_id % 17 AS VARCHAR) || '[.]' || CAST(doc_id % 254 + 1 AS VARCHAR)
  || ' hash ' || md5(text) || ' link hxxp://t' || CAST(doc_id AS VARCHAR) || '[.]co/x'
"""


def synthetic_tweet_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One JSON tweet envelope per document (models FIXTURES.md B2)."""
    d = F.col("doc_id")
    text = F.concat(
        F.when(d % 11 == 0, F.lit("RT @bot ")).otherwise(F.lit("")),
        F.lit("alert "),
        (d % 223 + 1).cast("string"), F.lit("[.]"),
        (d % 251).cast("string"), F.lit("."),
        (d % 17).cast("string"), F.lit("[.]"),
        (d % 254 + 1).cast("string"),
        F.lit(" hash "), F.md5(F.col("text")),
        F.lit(" link hxxp://t"), d.cast("string"), F.lit("[.]co/x"),
    )
    payload = F.concat(
        F.lit('{"created_at":"2024-01-'),
        F.lpad((d % 27 + 1).cast("string"), 2, "0"),
        F.lit(' 12:00:00","id":'), d.cast("string"),
        F.lit(',"text":"'), text,
        F.lit('","retweeted":'),
        F.when(d % 6 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"user":{"screen_name":"'), F.col("source"),
        F.lit('"},"entities":{"hashtags":[{"text":"malspam"}],"urls":'),
        F.lit('[{"expanded_url":"https://past.example/'), d.cast("string"),
        F.lit('"}]}}'),
    )
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        payload.alias("value")
    )


_TWEET_IOC_CTE = f"""
WITH tweets AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
    '2024-01-' || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0') || ' 12:00:00' AS date_added,
    source,
    {_TWEET_TEXT_SQL} AS text,
    (doc_id % 6 = 0) AS retweeted
  FROM documents
),
kept AS (
  SELECT * FROM tweets WHERE NOT retweeted AND NOT (text LIKE 'RT @%')
),
extracted AS (
  SELECT id, date_added, source,
    list_transform(regexp_extract_all(text, '{K.IP_PATTERN}', 1),
                   x -> {_SQL_REFANG.format(x='x')}) AS ips,
    regexp_extract_all(text, '{K.HASH_PATTERN}', 1) AS hashes,
    list_transform(regexp_extract_all(text, '{K.URL_PATTERN}', 1),
                   x -> {_SQL_REFANG.format(x='x')}) AS urls,
    list_transform(regexp_extract_all(text, '{K.EMAIL_PATTERN}', 1),
                   x -> regexp_replace({_SQL_REFANG.format(x='x')}, '^mailto:', '')) AS emails
  FROM kept
),
ioc_rows AS (
  SELECT id, date_added, source, 'ip' AS type, unnest(ips) AS ioc FROM extracted
  UNION ALL SELECT id, date_added, source, 'hash', unnest(hashes) FROM extracted
  UNION ALL SELECT id, date_added, source, 'url', unnest(urls) FROM extracted
  UNION ALL SELECT id, date_added, source, 'email', unnest(emails) FROM extracted
)
"""


@query(
    "tweet_batch_pipeline",
    oracle=_TWEET_IOC_CTE
    + """
SELECT id, date_added, CAST(NULL AS VARCHAR) AS date_received, ioc,
       'twitter' AS platform, source, 'malspam' AS tag, type
FROM ioc_rows
""",
)
def q_tweet_batch_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The firehose pipeline (§3.2) in batch: JSON envelope → from_json
    against the explicit tweet schema → retweet filter → nested projection
    → unified extraction → explode.  Runs the SAME code the streaming
    query uses (streaming/pipeline.py), proving batch/stream parity of the
    tweet path, with full oracle coverage."""
    from ..streaming.pipeline import parse_tweets, tweets_to_ioc_rows

    raw = synthetic_tweet_json(spark, sf_dir)
    return tweets_to_ioc_rows(parse_tweets(raw, "value"))


@query(
    "ioc_classify",
    oracle=f"""
WITH items AS (
  SELECT unnest([
    CAST(doc_id % 223 + 1 AS VARCHAR) || '.' || CAST(doc_id % 251 AS VARCHAR)
      || '.' || CAST(doc_id % 17 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR),
    'https://evil' || CAST(doc_id % 40 AS VARCHAR) || '.example/p',
    'cdn' || CAST(doc_id % 31 AS VARCHAR) || '.host.example',
    md5(text),
    'free text item ' || CAST(doc_id % 11 AS VARCHAR)
  ]) AS item
  FROM documents
),
classified AS (
  SELECT
    CASE
      WHEN regexp_matches(
             CASE WHEN contains(item, '//')
                  THEN regexp_extract(item, '//([^/?#]*)', 1) ELSE item END,
             '^(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}$') THEN 'ip'
      WHEN contains(
             CASE WHEN contains(item, '//')
                  THEN regexp_extract(item, '//([^/?#]*)', 1) ELSE item END,
             '.') THEN 'url'
      WHEN regexp_matches(item, '^[a-zA-Z0-9]{{32,64}}$') THEN 'hash'
      ELSE 'unmatched'
    END AS type
  FROM items
)
SELECT type, count(*) AS n FROM classified GROUP BY type
""",
)
def q_ioc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort_iocs parity (T12, firehose.py:82-103): classify scraped-item
    strings into ip/url/hash/unmatched and count per class."""
    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    items = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                F.concat(
                    (d % 223 + 1).cast("string"), F.lit("."),
                    (d % 251).cast("string"), F.lit("."),
                    (d % 17).cast("string"), F.lit("."),
                    (d % 254 + 1).cast("string"),
                ),
                F.concat(F.lit("https://evil"), (d % 40).cast("string"), F.lit(".example/p")),
                F.concat(F.lit("cdn"), (d % 31).cast("string"), F.lit(".host.example")),
                F.md5(F.col("text")),
                F.concat(F.lit("free text item "), (d % 11).cast("string")),
            )
        ).alias("item"),
    )
    return (
        items.select(K.classify_ioc(F.col("item")).alias("type"))
        .groupBy("type")
        .agg(F.count("*").alias("n"))
    )


# --- HTTP enrichment (S4/T16, firehose.py:74-80) ---------------------------
# Deterministic paste URLs are derived from `documents`; the FAKE fetcher
# (enrichment.fake_fetch) synthesizes each page from md5(url), so the real
# distinct→mapInPandas(fetch+parse)→classify→broadcast-join-back pipeline
# is value-checked end to end by the DuckDB mirror below.

def _hx(p: int) -> str:
    """DuckDB: hex digit at 1-based position p of md5(url) → int."""
    return f"(instr('0123456789abcdef', substring(md5(url), {p}, 1)) - 1)"


_FAKE_IP_SQL = " || '.' || ".join(
    f"CAST({_hx(2 * j + 1)} * 16 + {_hx(2 * j + 2)} AS VARCHAR)" for j in range(4)
)


@query(
    "enrichment_scraped_iocs",
    oracle=f"""
WITH src AS (
  SELECT 'DOC-' || CAST(doc_id AS VARCHAR) AS id,
    'https://pastebin.example/raw/' || substring(md5(text), 1, 8) AS url
  FROM documents WHERE doc_id % 4 = 0 AND doc_id < 400
),
pages AS (SELECT DISTINCT url FROM src),
items AS (
  SELECT url, {_FAKE_IP_SQL} AS ioc, 'ip' AS type FROM pages
  UNION ALL
  SELECT url, md5(url), 'hash' FROM pages
)
SELECT s.id, s.url, i.ioc, i.type
FROM src s JOIN items i ON s.url = i.url
""",
)
def q_enrichment_scraped_iocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pastebin enrichment restated for scale (vs firehose.py:76's
    stream-blocking per-tweet fetch): dedup URLs FIRST (each page fetched
    once), fetch+parse in one Arrow-batched mapInPandas stage, classify
    JVM-side, broadcast the (small) scraped table back onto the feed."""
    from ..enrichment import fake_fetch, scrape_urls

    d = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        (d % 4 == 0) & (d < 400)
    )
    src = docs.select(
        F.concat(F.lit("DOC-"), d.cast("string")).alias("id"),
        F.concat(
            F.lit("https://pastebin.example/raw/"),
            F.substring(F.md5(F.col("text")), 1, 8),
        ).alias("url"),
    )
    pages = src.select("url").distinct()
    scraped = scrape_urls(pages, fetcher=fake_fetch)
    typed = scraped.select(
        "url",
        F.col("item").alias("ioc"),
        K.classify_ioc(F.col("item")).alias("type"),
    )
    return src.join(F.broadcast(typed), "url").select("id", "url", "ioc", "type")


@query(
    "ioc_url_hosts",
    oracle=_EXTRACT_CTE
    + """
SELECT regexp_extract(ioc, '//([^/?#]*)', 1) AS host, COUNT(*) AS n
FROM ioc_rows WHERE type = 'url'
GROUP BY 1
""",
)
def q_ioc_url_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host extraction over extracted URLs (T11, firehose.py:88's
    urlparse().netloc) + per-host counts — the feed-infrastructure
    rollup a threat team actually pivots on."""
    urls = ioc_table(spark, sf_dir).filter(F.col("type") == "url")
    return (
        urls.select(K.extract_host(F.col("ioc")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )


@query(
    "stream_stateful_type_totals",
    oracle=_TWEET_IOC_CTE
    + """
SELECT type, CAST(COUNT(*) AS BIGINT) AS total
FROM ioc_rows GROUP BY type
""",
)
def q_stream_stateful_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-type IOC counters via applyInPandasWithState, run as
    a REAL stream (tweet JSON files → micro-batches → state store) and
    reduced to the final totals.  The oracle is the batch count — the
    stateful stream must converge to it regardless of how the input
    splits into micro-batches (the exactly-once counter claim; replaces
    h-isac.py:171-176's read-modify-write metrics file)."""
    from ..streaming.drain import drain_to_memory, replay
    from ..streaming.pipeline import parse_tweets, tweets_to_ioc_rows
    from ..streaming.stateful import ioc_type_totals

    # 4 files -> 4 micro-batches: enough to prove multi-batch state,
    # without 32 batch-commit round-trips in the correctness gate
    with replay(spark, synthetic_tweet_json(spark, sf_dir).coalesce(4)) as raw:
        totals = drain_to_memory(
            spark, ioc_type_totals(tweets_to_ioc_rows(parse_tweets(raw))), "append"
        )
    # totals are monotone; max = final
    return totals.groupBy("type").agg(F.max("total").alias("total"))


@query(
    "ioc_allowlist_filtered",
    oracle=_EXTRACT_CTE
    + """
, allow AS (
  SELECT DISTINCT 'www.host' || CAST(doc_id % 10 AS VARCHAR) || '.example' AS benign_host
  FROM documents
)
SELECT i.type, COUNT(*) AS n_kept
FROM ioc_rows i
WHERE NOT EXISTS (
  SELECT 1 FROM allow a
  WHERE regexp_extract(i.ioc, '//([^/?#]*)', 1) = a.benign_host
)
GROUP BY i.type
""",
)
def q_ioc_allowlist_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowlist suppression: drop IOCs whose host is on a known-benign
    list before sinking — the triage step every intel pipeline needs and
    the reference lacks.  The allowlist is tiny → broadcast LEFT ANTI
    join; the big IOC stream never shuffles.  (Allowlist here is derived
    deterministically from the fixture: hosts 0-9 are 'benign'.)"""
    d = F.col("doc_id")
    allow = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(
                F.lit("www.host"), (d % 10).cast("string"), F.lit(".example")
            ).alias("benign_host")
        )
        .distinct()
    )
    iocs = ioc_table(spark, sf_dir).withColumn(
        "host", K.extract_host(F.col("ioc"))
    )
    kept = iocs.join(
        F.broadcast(allow),
        iocs["host"] == allow["benign_host"],
        "left_anti",
    )
    return kept.groupBy("type").agg(F.count("*").alias("n_kept"))


@query(
    "unified_ioc_table",
    oracle=_EXTRACT_CTE
    + ", "
    + _TWEET_IOC_CTE.strip().removeprefix("WITH ")
      .replace("tweets AS (", "tweets_t AS (", 1)
      .replace("FROM tweets", "FROM tweets_t")
      .replace("kept AS (", "kept_t AS (", 1)
      .replace("FROM kept", "FROM kept_t")
      .replace("extracted AS (", "extracted_t AS (", 1)
      .replace("FROM extracted", "FROM extracted_t")
      .replace("ioc_rows AS (", "ioc_rows_t AS (", 1)
    + f"""
SELECT id, '{RUN_DATE}' AS date_added, date_received, ioc,
       'H-ISAC' AS platform, source, 'N/A' AS tag, type
FROM ioc_rows
UNION ALL
SELECT id, date_added, CAST(NULL AS VARCHAR) AS date_received, ioc,
       'twitter' AS platform, source, 'malspam' AS tag, type
FROM ioc_rows_t
""",
)
def q_unified_ioc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference deliverable: one canonical 8-column IOC table from
    BOTH feed paths (email batch + tweet stream shape) under a single
    schema — including the unification fixes the reference never made
    (README.md:13-29 contract; stream-path drift documented in SURVEY
    §1.1).  Both branches are narrow scans; unionByName adds no
    shuffle, so the unified table costs exactly the sum of its parts."""
    from ..streaming.pipeline import parse_tweets, tweets_to_ioc_rows

    email = ioc_table(spark, sf_dir)
    tweets = tweets_to_ioc_rows(parse_tweets(synthetic_tweet_json(spark, sf_dir)))
    return email.unionByName(tweets)


@query(
    "ioc_validation_counts",
    oracle=_EXTRACT_CTE
    + """
SELECT
  CAST(SUM(CASE WHEN ioc IS NULL OR ioc = '' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_ioc,
  CAST(SUM(CASE WHEN type NOT IN ('ip','hash','url','email') THEN 1 ELSE 0 END)
    AS BIGINT) AS n_bad_type,
  CAST(SUM(CASE WHEN try_strptime(date_received, '%Y-%m-%d') IS NULL THEN 1
                ELSE 0 END) AS BIGINT) AS n_bad_date,
  CAST(SUM(CASE WHEN type = 'ip'
                 AND NOT regexp_matches(ioc, '^(\\d{1,3}\\.){3}\\d{1,3}$')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unrefanged_ip,
  COUNT(*) AS n_rows
FROM ioc_rows
""",
)
def q_ioc_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over the canonical table: violations of the
    8-column contract (null/empty ioc, out-of-enum type, unparseable
    date_received, un-refanged IP) counted in one conditional-sum pass.
    A pipeline promotes the batch only when every counter is zero —
    the validation step the reference's eyeball-the-CSV process lacked.
    Map-side combinable; the shuffle carries 5 integers."""
    t = ioc_table(spark, sf_dir)
    zero_one = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return t.agg(
        F.sum(zero_one(F.col("ioc").isNull() | (F.col("ioc") == ""))).cast("bigint").alias("n_null_ioc"),
        F.sum(zero_one(~F.col("type").isin("ip", "hash", "url", "email"))).cast("bigint").alias("n_bad_type"),
        F.sum(zero_one(F.to_date(F.col("date_received"), "yyyy-MM-dd").isNull())).cast("bigint").alias("n_bad_date"),
        F.sum(
            zero_one(
                (F.col("type") == "ip")
                & ~F.col("ioc").rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
            )
        ).cast("bigint").alias("n_unrefanged_ip"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Threat-intel enrichment: IP -> network-block range join
# ---------------------------------------------------------------------------
#
# A deterministic synthetic block table stands in for a threat-intel CIDR
# feed: each /8 is split into 1, 2, or 4 equal sub-blocks (md5-derived),
# every block carrying an md5-derived threat level.  Blocks are octet-
# aligned, so the range join is BUCKETED: equi-join on the first octet,
# then the residual BETWEEN check over at most 4 candidate blocks per IP
# — the interval-join pattern that scales (click_error_range_join's time
# variant, here in its dimension-lookup form).

from .dedup import _SHINGLE_INT_SQL  # md5-prefix -> int, both engines

_H_O = _SHINGLE_INT_SQL.format(x="CAST(o AS VARCHAR)")
_H_OSUB = _SHINGLE_INT_SQL.format(
    x="CAST(o AS VARCHAR) || '|' || CAST(sub AS VARCHAR)"
)

_IP_BLOCKS_CTE = f"""
blocks AS (
  SELECT o, sub,
    o * 16777216 + sub * (16777216 // n_sub) AS lo,
    o * 16777216 + (sub + 1) * (16777216 // n_sub) - 1 AS hi,
    ['low', 'medium', 'high', 'critical'][CAST({_H_OSUB} % 4 + 1 AS INTEGER)]
      AS threat
  FROM (
    SELECT r.range AS o, s.range AS sub,
      CASE {_H_O} % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS n_sub
    FROM range(256) r CROSS JOIN range(4) s
  )
  WHERE sub < n_sub
)
"""


@query(
    "ioc_ip_block_enrichment",
    oracle=_EXTRACT_CTE.rstrip()
    + ",\n"
    + _IP_BLOCKS_CTE.strip()
    + f""",
ips AS (
  SELECT DISTINCT ioc,
    CAST(string_split(ioc, '.')[1] AS BIGINT) * 16777216
    + CAST(string_split(ioc, '.')[2] AS BIGINT) * 65536
    + CAST(string_split(ioc, '.')[3] AS BIGINT) * 256
    + CAST(string_split(ioc, '.')[4] AS BIGINT) AS ip_int,
    CAST(string_split(ioc, '.')[1] AS BIGINT) AS o1
  FROM ioc_rows
  WHERE type = 'ip' AND regexp_matches(ioc, '^(\\d{{1,3}}\\.){{3}}\\d{{1,3}}$')
    AND CAST(string_split(ioc, '.')[1] AS BIGINT) <= 255
    AND CAST(string_split(ioc, '.')[2] AS BIGINT) <= 255
    AND CAST(string_split(ioc, '.')[3] AS BIGINT) <= 255
    AND CAST(string_split(ioc, '.')[4] AS BIGINT) <= 255
)
SELECT b.threat,
  COUNT(*) AS n_ips,
  COUNT(DISTINCT b.o * 16777216 + b.sub) AS n_blocks_hit,
  MIN(i.ioc) AS sample_ip
FROM ips i JOIN blocks b ON i.o1 = b.o AND i.ip_int BETWEEN b.lo AND b.hi
GROUP BY b.threat
""",
)
def q_ioc_ip_block_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threat-intel lookup: every distinct extracted IP is mapped to its
    network block (a CIDR-style interval table) and profiled by the
    block's threat level — the enrichment the reference would do against
    a commercial intel feed after extraction.

    Scale shape: the block table is dimension-sized (≤1024 rows —
    broadcast), and because blocks never span a /8 boundary the interval
    join is a BUCKETED range join: equi-join on the first octet carries
    the hash lookup, the BETWEEN residual inspects at most the 4 blocks
    of that octet.  No CartesianProduct, no sort-merge interval sweep;
    the plan is one broadcast hash join however many IPs flow through.
    IPs are pre-deduplicated (enrichment joins cost per DISTINCT key,
    exactly like scrape_urls) and octet-validated before the int math."""
    ip_rows = (
        ioc_table(spark, sf_dir)
        .filter(
            (F.col("type") == "ip")
            & F.col("ioc").rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
        )
        .select("ioc")
    )
    oct_ = [
        F.split(F.col("ioc"), r"\.").getItem(i).cast("bigint") for i in range(4)
    ]
    ips = (
        ip_rows.filter(
            (oct_[0] <= 255) & (oct_[1] <= 255) & (oct_[2] <= 255) & (oct_[3] <= 255)
        )
        .select(
            "ioc",
            (
                oct_[0] * 16777216 + oct_[1] * 65536 + oct_[2] * 256 + oct_[3]
            ).alias("ip_int"),
            oct_[0].alias("o1"),
        )
        .distinct()
    )
    n_sub = (
        F.when(_md5_int_o() % 3 == 0, 1)
        .when(_md5_int_o() % 3 == 1, 2)
        .otherwise(4)
    )
    base = (
        spark.range(256)
        .select(F.col("id").alias("o"))
        .crossJoin(spark.range(4).select(F.col("id").alias("sub")))
        .withColumn("n_sub", n_sub)
        .filter(F.col("sub") < F.col("n_sub"))
    )
    width = F.lit(16777216) / F.col("n_sub")  # exact: n_sub divides 2^24
    threat = F.element_at(
        F.array(F.lit("low"), F.lit("medium"), F.lit("high"), F.lit("critical")),
        (_md5_int_osub() % 4 + 1).cast("int"),
    )
    blocks = base.select(
        "o",
        "sub",
        (F.col("o") * 16777216 + F.col("sub") * width).cast("bigint").alias("lo"),
        (F.col("o") * 16777216 + (F.col("sub") + 1) * width - 1)
        .cast("bigint")
        .alias("hi"),
        threat.alias("threat"),
    )
    joined = ips.join(
        F.broadcast(blocks),
        (F.col("o1") == F.col("o"))
        & F.col("ip_int").between(F.col("lo"), F.col("hi")),
    )
    return joined.groupBy("threat").agg(
        F.count("*").alias("n_ips"),
        F.countDistinct(F.col("o") * 16777216 + F.col("sub")).alias("n_blocks_hit"),
        F.min("ioc").alias("sample_ip"),
    )


def _md5_int_o():
    from .dedup import _shingle_int

    return _shingle_int(F.col("o").cast("string"))


def _md5_int_osub():
    from .dedup import _shingle_int

    return _shingle_int(
        F.concat(F.col("o").cast("string"), F.lit("|"), F.col("sub").cast("string"))
    )


@query(
    "ioc_first_last_seen",
    oracle=_EXTRACT_CTE
    + """
SELECT ioc, type,
  MIN(date_received) AS first_seen,
  MAX(date_received) AS last_seen,
  COUNT(*) AS n_sightings,
  COUNT(DISTINCT source) AS n_sources
FROM ioc_rows
GROUP BY ioc, type
""",
)
def q_ioc_first_last_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indicator aging table: per distinct IOC, its first/last sighting
    dates, total sighting count, and how many independent sources
    reported it — the table a threat-intel platform actually serves
    (confidence decays from last_seen, corroboration comes from
    n_sources; cf. the reference storing only flat rows per message,
    h-isac.py:176-189, with no cross-message view at all).

    One map-side-combined aggregation keyed on the 2-tuple (ioc, type);
    min/max/count partials merge associatively so the shuffle carries
    five small fields per distinct indicator, never the sighting rows.
    At 100 TB of feed history this is the same plan plus a date
    partition filter for incremental refresh (the S2 pushdown shape)."""
    return (
        ioc_table(spark, sf_dir)
        .groupBy("ioc", "type")
        .agg(
            F.min("date_received").alias("first_seen"),
            F.max("date_received").alias("last_seen"),
            F.count("*").alias("n_sightings"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


@query(
    "stream_ioc_aging",
    oracle=_EXTRACT_CTE
    + """
SELECT ioc, type,
  MIN(date_received) AS first_seen,
  MAX(date_received) AS last_seen,
  COUNT(*) AS n_sightings,
  COUNT(DISTINCT source) AS n_sources
FROM ioc_rows
GROUP BY ioc, type
""",
)
def q_stream_ioc_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental maintenance of the aging table: sightings
    drain as two real micro-batches and foreachBatch MERGEs each batch's
    partials into a versioned state table at the finest MERGEABLE grain
    (ioc, type, source) — min/max/count fold associatively there, while
    the served COUNT(DISTINCT source) would not merge from partials, so
    it is derived by counting state rows.  The drained serving view must
    hash-match the batch ioc_first_last_seen oracle exactly (same SQL):
    merge order cannot change associative folds.  See
    streaming/pipeline.py::run_ioc_aging_stream for the
    MERGE-INTO-without-a-table-format scale story."""
    from ..streaming.pipeline import run_ioc_aging_stream

    return run_ioc_aging_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Infrastructure rollups over extracted IOCs — the pivots a threat team runs
# ---------------------------------------------------------------------------


@query(
    "ioc_ip_prefix_rollup",
    oracle=_EXTRACT_CTE
    + r"""
, ips AS (SELECT ioc, source FROM ioc_rows WHERE type = 'ip'),
lvl AS (
  SELECT 16 AS prefix_len,
    regexp_extract(ioc, '^(\d+\.\d+)\.', 1) AS prefix, ioc, source
  FROM ips
  UNION ALL
  SELECT 24, regexp_extract(ioc, '^(\d+\.\d+\.\d+)\.', 1), ioc, source
  FROM ips
)
SELECT CAST(prefix_len AS BIGINT) AS prefix_len, prefix,
  CAST(COUNT(*) AS BIGINT) AS n_sightings,
  CAST(COUNT(DISTINCT ioc) AS BIGINT) AS n_ips,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM lvl WHERE prefix != ''
GROUP BY 1, 2
""",
)
def q_ioc_ip_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR-prefix rollup of extracted IP indicators (/16 and /24) —
    the infrastructure-clustering pivot: attacker hosting concentrates
    in netblocks, so sightings grouped by prefix surface the block even
    when individual IPs rotate.  Both levels are string-prefix
    projections over the refanged dotted quads (no parsing UDF), and
    the multi-granularity union is two groupings of the same narrow
    frame — the ROLLUP idiom at string grain.

    Scale shape: one extraction pass feeds both levels; the census
    shuffles (prefix, ip, source) triples — distinct-count state is
    bounded by the prefix's member count, and the rollup output is
    prefix-cardinality, not sightings."""
    ips = ioc_table(spark, sf_dir).filter(F.col("type") == "ip")
    lvl = None
    for plen, pat in ((16, r"^(\d+\.\d+)\."), (24, r"^(\d+\.\d+\.\d+)\.")):
        part = ips.select(
            F.lit(plen).cast("bigint").alias("prefix_len"),
            F.regexp_extract("ioc", pat, 1).alias("prefix"),
            "ioc",
            "source",
        )
        lvl = part if lvl is None else lvl.unionByName(part)
    return (
        lvl.filter(F.col("prefix") != "")
        .groupBy("prefix_len", "prefix")
        .agg(
            F.count("*").cast("bigint").alias("n_sightings"),
            F.count_distinct("ioc").cast("bigint").alias("n_ips"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
    )


@query(
    "ioc_host_dga_scores",
    oracle=_EXTRACT_CTE
    + r"""
, hosts AS (
  SELECT DISTINCT lower(regexp_replace(
    regexp_extract(ioc, '//([^/?#]*)', 1), ':[0-9]+$', '')) AS host
  FROM ioc_rows WHERE type = 'url'
),
named AS (
  SELECT host, replace(host, '.', '') AS chars FROM hosts
  WHERE length(replace(host, '.', '')) > 0
),
pos AS (
  SELECT host, chars, unnest(generate_series(1, length(chars))) AS i
  FROM named
),
census AS (
  SELECT host, substring(chars, CAST(i AS INTEGER), 1) AS ch, COUNT(*) AS c
  FROM pos GROUP BY 1, 2
),
scored AS (
  SELECT host,
    CAST(SUM(c) AS BIGINT) AS n_chars,
    CAST(SUM(CASE WHEN ch BETWEEN '0' AND '9' THEN c ELSE 0 END)
         AS BIGINT) AS n_digits,
    CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000000.0)
                      AS BIGINT)) AS BIGINT) AS s_i
  FROM census GROUP BY 1
)
SELECT host, n_chars,
  CAST(len(string_split(host, '.')) AS BIGINT) AS n_labels,
  CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) AS digit_ratio,
  ln(CAST(n_chars AS DOUBLE))
    - CAST(s_i AS DOUBLE) / (CAST(n_chars AS DOUBLE) * 1000000000.0)
    AS entropy_nats
FROM scored
""",
)
def q_ioc_host_dga_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DGA-style lexical scoring of extracted URL hosts — the
    domain-generation-algorithm heuristic every SOC pipeline runs:
    algorithmically generated names have high character entropy and
    digit density with few meaningful labels.  Entropy is the one
    operator that normally forces a float sum (H = ln n − Σc·ln c / n);
    it stays hash-checkable here by the bigram-LM discipline —
    FLOOR-quantize each ln(c) to an integer (·1e9), sum EXACT integers
    per host, and convert once, so both engines compute the identical
    double.  Ports are stripped, case folded, dots excluded from the
    character census but counted as labels.

    Scale shape: the census is (host × distinct-char) rows — ≤ 40 per
    host — aggregated map-side; hosts deduplicate before any character
    work (cost ∝ distinct infrastructure, not sightings)."""
    urls = ioc_table(spark, sf_dir).filter(F.col("type") == "url")
    hosts = (
        urls.select(
            F.lower(
                F.regexp_replace(
                    K.extract_host(F.col("ioc")), ":[0-9]+$", ""
                )
            ).alias("host")
        )
        .distinct()
        .withColumn("chars", F.regexp_replace("host", r"\.", ""))
        .filter(F.length("chars") > 0)
    )
    pos = hosts.select(
        "host",
        "chars",
        F.explode(F.sequence(F.lit(1), F.length("chars"))).alias("i"),
    )
    census = pos.select(
        "host", F.col("chars").substr(F.col("i"), F.lit(1)).alias("ch")
    ).groupBy("host", "ch").agg(F.count("*").alias("c"))
    li = F.floor(F.log(F.col("c").cast("double")) * F.lit(1e9)).cast("bigint")
    scored = census.groupBy("host").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.sum(
            F.when(F.col("ch").between("0", "9"), F.col("c")).otherwise(0)
        ).cast("bigint").alias("n_digits"),
        F.sum(F.col("c") * li).cast("bigint").alias("s_i"),
    )
    return scored.select(
        "host",
        "n_chars",
        F.size(F.split("host", r"\.")).cast("bigint").alias("n_labels"),
        (F.col("n_digits").cast("double") / F.col("n_chars").cast("double"))
        .alias("digit_ratio"),
        (
            F.log(F.col("n_chars").cast("double"))
            - F.col("s_i").cast("double")
            / (F.col("n_chars").cast("double") * F.lit(1e9))
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Typosquat detection — edit distance against the benign-domain allowlist
# ---------------------------------------------------------------------------


@query(
    "ioc_typosquat_candidates",
    oracle=_EXTRACT_CTE
    + """
, allow AS (
  SELECT DISTINCT 'www.host' || CAST(doc_id % 10 AS VARCHAR) || '.example'
    AS benign_host
  FROM documents
),
hosts AS (
  SELECT regexp_extract(ioc, '//([^/?#]*)', 1) AS host, COUNT(*) AS n_iocs
  FROM ioc_rows WHERE type = 'url'
  GROUP BY 1
)
SELECT h.host, a.benign_host,
  CAST(levenshtein(h.host, a.benign_host) AS BIGINT) AS edit_dist,
  CAST(h.n_iocs AS BIGINT) AS n_iocs
FROM hosts h JOIN allow a
  ON levenshtein(h.host, a.benign_host) BETWEEN 1 AND 2
""",
)
def q_ioc_typosquat_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typosquat detection — the fuzzy-match kernel applied where intel
    pipelines actually need it: IOC hosts within edit distance 1-2 of a
    known-benign domain are candidate impersonations (allowlist equality
    drops them, typosquats sail through; this catches them).  Hosts
    first collapse to a distinct census (the big side shrinks before
    any distance work), then meet the tiny allowlist under a broadcast
    nested-loop join whose predicate is the distance band — exact same
    Spark/DuckDB levenshtein semantics as similar_part_names, which
    documents this blocked/broadcast form as the scale plan.

    Scale shape: distance work is |distinct hosts| × |allowlist|, never
    per-IOC; the allowlist broadcasts.  With a large brand list the
    band join adds a cheap blocking key (host length band) first —
    same candidate-pruning discipline as the LSH families."""
    d = F.col("doc_id")
    allow = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(
                F.lit("www.host"), (d % 10).cast("string"), F.lit(".example")
            ).alias("benign_host")
        )
        .distinct()
    )
    hosts = (
        ioc_table(spark, sf_dir)
        .filter(F.col("type") == "url")
        .withColumn("host", K.extract_host(F.col("ioc")))
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_iocs"))
    )
    dist = F.levenshtein(F.col("host"), F.col("benign_host"))
    return hosts.join(
        F.broadcast(allow), dist.between(1, 2)
    ).select(
        "host",
        "benign_host",
        F.levenshtein(F.col("host"), F.col("benign_host"))
        .cast("bigint")
        .alias("edit_dist"),
        "n_iocs",
    )
