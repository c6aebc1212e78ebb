"""Batch readers over the driver fixture tables (TESTDATA.md) plus the
deterministic synthetic "feed" used by the IOC pipeline queries.

The reference's sources are an Outlook COM folder (h-isac.py:117-123) and
a tweet stream (firehose.py:163) — neither exists here, so the IOC
pipeline runs over a *deterministically synthesized* feed derived from
the ``documents`` fixture: each document becomes an email-shaped record
whose body embeds defanged IOCs computed from ``doc_id`` and
``md5(text)``.  The construction is mirrored verbatim in the DuckDB
oracle (FEED_CTE_SQL below), so the driver's value-hash check exercises
the full extract→refang→explode pipeline with non-empty results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# fixed "run date" standing in for dt.datetime.now() at h-isac.py:100 —
# pinned so results are reproducible across engines and runs.
RUN_DATE = "2026-01-01"


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    if fan_out:
        df = fan_out_narrow_scan(spark, df)
    return df


def fan_out_narrow_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a scan UP to core parallelism when the source has too
    few splits for the cluster (single-row-group parquet reads as ONE
    task, serializing any compute-heavy stage behind it).

    Used only in front of CPU-bound stages (regex extraction, shingling,
    vector math) where the shuffle cost is dwarfed by the parallelism
    gained.  At 100 TB this is a no-op: inputs arrive with >= cores
    natural splits, so the condition never fires — it exists exactly for
    the skinny-input tail (small dimension feeds, single-file drops).

    The split estimate comes from the scan's file listing + sizes (how
    Spark itself bins files into tasks: ceil(size / maxPartitionBytes)
    per file), NOT from ``df.rdd.getNumPartitions()`` — the RDD probe
    builds the physical RDD plan eagerly on the driver per call."""
    target = spark.sparkContext.defaultParallelism
    try:
        import os
        from urllib.parse import urlparse

        max_bytes = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip(
                "b"
            )
        )
        n_splits = sum(
            max(1, -(-os.path.getsize(urlparse(f).path) // max_bytes))
            for f in df.inputFiles()
        )
    except (OSError, ValueError):  # non-local files / post-scan frame
        n_splits = df.rdd.getNumPartitions()
    if n_splits < target:
        return df.repartition(target)
    return df


def fan_out_small_frame(df: DataFrame, est_bytes: int) -> DataFrame:
    """``fan_out_narrow_scan``'s counterpart for INTERMEDIATE frames
    feeding a CPU-bound array-fold stage (zip_with/aggregate distance
    folds): AQE coalesces any sub-advisory exchange to ~1 partition,
    which then serializes the interpreted fold behind one core
    (measured 1.5 s single-task vs 0.25 s spread for the graph-serve
    exact leg at sf0.1).  When the caller's size estimate is below
    cores × advisory partition size — exactly the regime AQE collapses
    — pin the partitioning at core parallelism; otherwise leave the
    frame alone (at scale the natural partitioning already exceeds
    cores and AQE sizes it by bytes).  ``repartition(n)`` with an
    explicit n is never re-coalesced by AQE, so the spread sticks."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        adv = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
        )
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        adv_b = (
            int(adv[:-1]) * mult[adv[-1].lower()]
            if adv[-1].lower() in mult
            else int(adv.rstrip("b"))
        )
    except (ValueError, KeyError):
        adv_b = 64 << 20
    if est_bytes < cores * adv_b:
        return df.repartition(cores)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType whatever the parquet encoding:

    - TIMESTAMP(NANOS) → read as int64 nanos (session.py nanosAsLong) →
      truncate to µs with *integer* division (double division would lose
      precision above 2^53) → TimestampType.  DuckDB applies the same
      ns→µs truncation natively.
    - TIMESTAMP(MICROS, no-UTC-adjust) → read as TIMESTAMP_NTZ → cast to
      TimestampType; the session tz is pinned UTC, so the cast is
      instant-preserving and matches DuckDB's naive read.

    Either way both engines see identical microsecond instants, and
    downstream code (watermarks, unix_micros, window()) always gets a
    zoned TimestampType."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def synthetic_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email-shaped feed over `documents` (models B1 in FIXTURES.md).

    Per doc: a partially-defanged IPv4, a defanged URL, a (sometimes
    mailto-prefixed) defanged email, and an md5 hash are appended to the
    text; every 5th doc gains a quoted-reply block whose IOCs must NOT be
    extracted (h-isac.py:51-67); every 7th doc gets a non-"indicator"
    subject (filter parity with h-isac.py:158).
    """
    return load_table(spark, sf_dir, "documents", fan_out=True).selectExpr(
        *FEED_SELECT_SQL
    )


# The feed as Spark SQL select items: one planning call instead of a
# py4j round trip per Column-builder call.  Lockstep with FEED_CTE_SQL
# below, line for line; tests/test_oracle_parity.py enforces it.
FEED_SELECT_SQL = (
    "'DOC-' || CAST(doc_id AS STRING) AS id",
    "source",
    """CASE WHEN doc_id % 7 = 0 THEN 'FYI general news'
         ELSE 'H-ISAC Indicator Digest' END AS subject""",
    """date_format(DATE '2024-01-01' + CAST(doc_id % 365 AS INT),
                'yyyy-MM-dd') AS date_received""",
    """concat_ws(' ',
      text,
      CAST(doc_id % 223 + 1 AS STRING) || '[.]' || CAST(doc_id % 251 AS STRING)
        || '.' || CAST(doc_id % 17 AS STRING) || '[.]' || CAST(doc_id % 254 + 1 AS STRING),
      'hxxps://www[.]host' || CAST(doc_id % 50 AS STRING) || '[.]example/c',
      (CASE WHEN doc_id % 3 = 0 THEN 'mailto:' ELSE '' END)
        || 'analyst' || CAST(doc_id % 20 AS STRING) || '@corp.example[.]com',
      md5(text)
    ) || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'From: H-ISAC Amber' || chr(10)
                   || 'quoted 9[.]9[.]9[.]9 ' || md5(text || 'q')
              ELSE '' END AS body""",
)


# DuckDB mirror of synthetic_feed — prepended (as a CTE named `feed`) to
# every IOC-pipeline oracle query.  Must stay in lockstep with the Spark
# construction above; tests/test_oracle_parity.py enforces it.
FEED_CTE_SQL = """
feed AS (
  SELECT
    'DOC-' || CAST(doc_id AS VARCHAR) AS id,
    source,
    CASE WHEN doc_id % 7 = 0 THEN 'FYI general news'
         ELSE 'H-ISAC Indicator Digest' END AS subject,
    strftime(DATE '2024-01-01' + CAST(doc_id % 365 AS INTEGER), '%Y-%m-%d') AS date_received,
    concat_ws(' ',
      text,
      CAST(doc_id % 223 + 1 AS VARCHAR) || '[.]' || CAST(doc_id % 251 AS VARCHAR)
        || '.' || CAST(doc_id % 17 AS VARCHAR) || '[.]' || CAST(doc_id % 254 + 1 AS VARCHAR),
      'hxxps://www[.]host' || CAST(doc_id % 50 AS VARCHAR) || '[.]example/c',
      (CASE WHEN doc_id % 3 = 0 THEN 'mailto:' ELSE '' END)
        || 'analyst' || CAST(doc_id % 20 AS VARCHAR) || '@corp.example[.]com',
      md5(text)
    ) || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'From: H-ISAC Amber' || chr(10)
                   || 'quoted 9[.]9[.]9[.]9 ' || md5(text || 'q')
              ELSE '' END AS body
  FROM documents
)
"""
