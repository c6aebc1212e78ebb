"""Structured Streaming pipelines — SURVEY.md §2.9.

The reference's stream is a single-threaded tweepy callback with no
delivery guarantees (firehose.py:19-48).  Here the same semantics run as
micro-batch Structured Streaming with checkpointing: readStream →
from_json(schema) → retweet filter → nested projection → IOC extraction →
explode → sink.  ``Trigger.AvailableNow`` replaces the reference's
resume-from-last_run batch loop (h-isac.py:149-153): process everything
new, then stop — with the checkpoint playing the role of the
~/pyioc_hisac_meta.json state file, minus its AM/PM bug (SURVEY §4.3.2).

Drain contract.  Every runner here starts its query through
``streaming.drain`` and nowhere else, which fixes three things once:

- conf scope: the query starts under ``spark.sql.shuffle.partitions =
  drain._STREAM_SHUFFLE_PARTS``, the value its state store and its
  checkpoint keep on every resume;
- replay-safe output: foreachBatch results go through ``drain_partials``
  as bid-keyed overwrites folded from ``_SUCCESS``-committed dirs, never
  blind appends, so an at-least-once re-fire cannot double-count; it
  returns them as one frame of the schema the runner declares, so a
  runner only merges, and its empty answer is the merge of zero rows;
- release: the staged source and the checkpoint the drain module made
  are removed when the run ends, and a memory-sink view is dropped as
  soon as ``drain_to_memory`` has captured its frame.  A partials dir
  stays, because the returned frame reads it lazily; caller-owned dirs
  (``work_dir``, ``checkpoint_dir``, ``out_dir``) are never touched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ioc as K
from .drain import (
    _write_partial_bid,
    drain,
    drain_partials,
    drain_to_files,
    drain_to_memory,
    replay,
)

# tweet envelope schema (firehose.py:20-37) — explicit StructType replacing
# json.loads duck-typing; PERMISSIVE parsing puts malformed payloads in
# _corrupt_record instead of crashing the stream.
TWEET_SCHEMA = T.StructType(
    [
        T.StructField("created_at", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("retweeted", T.BooleanType()),
        T.StructField(
            "extended_tweet",
            T.StructType([T.StructField("full_text", T.StringType())]),
        ),
        T.StructField(
            "user", T.StructType([T.StructField("screen_name", T.StringType())])
        ),
        T.StructField(
            "entities",
            T.StructType(
                [
                    T.StructField(
                        "hashtags",
                        T.ArrayType(
                            T.StructType([T.StructField("text", T.StringType())])
                        ),
                    ),
                    T.StructField(
                        "urls",
                        T.ArrayType(
                            T.StructType(
                                [T.StructField("expanded_url", T.StringType())]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)


def parse_tweets(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """raw JSON strings → flat tweet projection (firehose.py:19-37).

    - retweet filter (firehose.py:23-24)
    - extended_tweet.full_text fallback via coalesce (firehose.py:29-32)
    - whitespace normalization (T8)
    - hashtags/urls kept as real arrays (SURVEY §1.1 schema fix)
    """
    t = raw.select(
        F.from_json(F.col(json_col), TWEET_SCHEMA).alias("tw")
    ).select("tw.*")
    return (
        t.filter(
            ~F.coalesce(F.col("retweeted"), F.lit(False))
            & ~F.coalesce(F.col("text"), F.lit("")).startswith("RT @")
        )
        .select(
            F.col("created_at"),
            F.col("id"),
            K.normalize_ws(
                F.coalesce(F.col("extended_tweet.full_text"), F.col("text"))
            ).alias("text"),
            F.col("user.screen_name").alias("source"),
            F.transform(F.col("entities.hashtags"), lambda h: h["text"]).alias("tags"),
            F.transform(F.col("entities.urls"), lambda u: u["expanded_url"]).alias(
                "urls"
            ),
        )
    )


def tweets_to_ioc_rows(tweets: DataFrame) -> DataFrame:
    """Tweet projection → canonical long IOC table (stream flavour of the
    batch explode; unified 8-column contract per SURVEY §1.1, with the
    stream path gaining refang + email extraction — documented fix)."""
    return K.explode_iocs(
        tweets,
        F.col("text"),
        "twitter",
        id=F.col("id").cast("string"),
        date_added=F.col("created_at"),
        date_received=F.lit(None).cast("string"),
        source=F.col("source"),
        tag=F.coalesce(F.array_join("tags", ";"), F.lit("N/A")),
    )


def run_hourly_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the tumbling-window hourly aggregation of `events` as a real
    Structured Streaming query (file source → window() → memory sink,
    complete mode, Trigger.AvailableNow) and return the drained result.

    Output matches the batch/DuckDB form of the same aggregation —
    streaming/batch parity is the correctness claim here.
    """
    from ..sources.readers import normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    with replay(spark, path, spark.read.parquet(path).schema) as raw:
        stream = normalize_event_ts(raw)
        vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
        agg = (
            stream.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                (F.sum(vi.cast("decimal(38,0)")).cast("double") / 1e4).alias(
                    "total_value"
                ),
            )
            .select(
                F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_start"
                ),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        return drain_to_memory(spark, agg, "complete")


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: file source split into micro-batches
    → ``dropDuplicatesWithinWatermark`` → append-mode memory sink.  The
    first row per key is emitted; subsequent duplicates — including ones
    arriving in LATER micro-batches — are dropped by the keyed state
    store, which is the part a batch ``dropDuplicates`` can't show.

    The watermark delay here exceeds the fixture's whole time span, so no
    row is late-dropped and no state is evicted mid-run — making the
    emitted key-set exactly the batch DISTINCT (the oracle).  At 100 TB
    the same query runs with the delay set to the source's real lateness
    bound (e.g. '2 hours'): state then holds only keys seen within the
    watermark horizon instead of growing with the stream, which is the
    entire point of the WithinWatermark variant over plain
    ``dropDuplicates``."""
    from ..sources.readers import normalize_event_ts

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # split the fixture into 4 files so the stream runs multiple
    # micro-batches and duplicates actually cross batch boundaries
    with replay(spark, batch.repartition(4)) as raw:
        # event-time watermarks require TIMESTAMP (with zone); the fixture's
        # NANOS column lands as NTZ — session tz is pinned UTC so the cast
        # is instant-preserving
        stream = normalize_event_ts(raw).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        deduped = stream.withWatermark(
            "ts", "3650 days"
        ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
        return drain_to_memory(spark, deduped, "append").localCheckpoint(
            eager=True
        )


def run_dedup_evicting_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "6 hours",
    n_batches: int = 4,
) -> DataFrame:
    """Streaming dedup with REAL state eviction — the state-bounded
    production config of ``run_dedup_stream`` (whose 3650-day delay
    deliberately disables eviction so the sink equals batch DISTINCT).
    Here the watermark delay is TIGHT, so a key's state expires at
    first-seen event time + delay once the global watermark passes it,
    and a LATER event by the same key RE-EMITS — one row per key per
    eviction epoch, which is the semantics a crawler dedup actually
    runs (dedup against the recent horizon, not all history).

    Determinism staging: the fixture's events (user_id < 50)
    are split into ``n_batches`` files by EVENT-TIME RANGE — batch b =
    (n·(eus−mn)) div (mx−mn+1) over epoch-microseconds — reduced to
    the FIRST row per (user, batch) (min ts, then min event_id), and
    mtime-staggered so maxFilesPerTrigger=1 replays them in time
    order.  Consequences the oracle relies on: (1) file ranges are
    disjoint and ordered, so no input row is ever late against the
    watermark; (2) each micro-batch holds at most ONE row per key, so
    the emitted row and the state expiry it sets are unique — no
    intra-batch arrival-order nondeterminism; (3) the watermark after
    batch k is max staged ts of batch k (ms-floored) − delay, a closed
    form both engines state."""
    from ..sources.readers import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") < 50) & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id")
    )
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    staged = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn(
            "b",
            F.expr(
                f"({n_batches} * (unix_micros(ts) - mn)) div (mx - mn + 1)"
            ),
        )
        .groupBy("user_id", "b")
        .agg(F.min(F.struct("ts", "event_id")).alias("first"))
        .select("user_id", "b", "first.ts", "first.event_id")
        .localCheckpoint(eager=True)
    )
    with replay(spark, staged, buckets=n_batches) as stream:
        deduped = stream.withWatermark(
            "ts", delay
        ).dropDuplicatesWithinWatermark(["user_id"])
        return drain_to_memory(spark, deduped, "append").localCheckpoint(
            eager=True
        )


def run_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CONTENT near-dup: the documents fixture split into
    micro-batches → per-row MinHash signature (k=4, a pure projection —
    see operators.dedup.minhash_row for why the signature must not be a
    stateful aggregation here) → ``dropDuplicatesWithinWatermark`` on
    the full signature, append-mode memory sink.  The first document
    per signature bucket is emitted; later near-duplicates — identical
    in all k MinHash values, i.e. high-Jaccard clones — are dropped by
    the keyed state store even when they arrive in LATER micro-batches.

    The emitted signature SET is deterministic whatever the arrival
    order (it is exactly the distinct-signature set), which is what the
    oracle checks.  At 100 TB the watermark delay becomes the source's
    real lateness bound so signature state ages out instead of growing
    with the corpus — the streaming complement of the batch banded-LSH
    plan (a crawler dedups against the recent horizon on ingest; the
    full-corpus pass stays batch)."""
    from ..operators.dedup import minhash_row

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    with replay(spark, batch.repartition(4)) as stream:
        # synthetic deterministic event time (documents carry none): the
        # watermark column only drives state eviction, which the huge delay
        # disables for the bounded fixture.  Offset well past the epoch —
        # the initial watermark is epoch 0 and a doc_id=0 row AT the
        # watermark would be dropped as late before ever reaching state.
        sig = stream.select(
            "doc_id",
            F.timestamp_seconds(F.col("doc_id") + F.lit(1_000_000_000)).alias(
                "ts"
            ),
            *minhash_row(F.col("text"), k=4),
        )
        deduped = sig.withWatermark(
            "ts", "3650 days"
        ).dropDuplicatesWithinWatermark(["mh_0", "mh_1", "mh_2", "mh_3"])
        return drain_to_memory(spark, deduped, "append").localCheckpoint(
            eager=True
        )


def run_stream_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving: QUERY vectors arrive as a stream and are
    answered against a STATIC corpus index — the online complement of
    the batch ``ann_bucketed_topk`` build.  Each micro-batch runs the
    full bucketed top-k plan through ``foreachBatch`` (per-query results
    are independent, so batch-at-a-time answering is exact, not an
    approximation of the batch result), written as replay-safe partials.

    Scale shape: ``foreachBatch`` exposes the whole batch DataFrame API,
    so the per-batch plan is IDENTICAL to the batch one — corpus touched
    once per trigger, query side + metadata broadcast, candidates
    bounded by bucket match.  At 100 TB the static side would be a
    bucketed table (sinks/bucketed.py) so the per-trigger corpus scan
    prunes to matching buckets instead of re-bucketing; state is zero —
    queries are stateless lookups, all the index state lives in
    storage."""
    from ..operators.similarity import ann_bucketed_topk_frame

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 4).localCheckpoint(eager=True)

    def answer(batch: DataFrame, _bid: int) -> DataFrame | None:
        if batch.isEmpty():
            return None
        return ann_bucketed_topk_frame(corpus.unionByName(batch))

    # two micro-batches of the 4 query vectors; a quiet query stream
    # writes nothing and answers zero rows of the declared schema
    return drain_partials(
        spark,
        e.filter(F.col("vec_id") < 4).repartition(2),
        answer,
        "qid bigint, vec_id bigint, rnk bigint, cosine_sim double",
    ).localCheckpoint(eager=True)


def run_stream_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model serving: the language classifier's weight grid is
    trained ONCE on the static 80% split, then HELD-OUT documents arrive
    as two micro-batches and are scored through foreachBatch with the
    identical broadcast-join plan — the 'classifier sweeps the incoming
    feed' deployment of operators/classify.py.  Per-document predictions
    are independent, so the drained union hash-matches the batch
    confusion oracle exactly.

    Scale shape: the model is a checkpointed V x classes frame
    (broadcast into every micro-batch — no state store, no watermark:
    model serving is stateless, all state is the trained grid), and each
    batch pays only its own tokenize + broadcast-join + per-doc argmax."""
    from ..operators.classify import classify_docs, train_weight_grid
    from ..operators.sampling import hash_bucket
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    grid = train_weight_grid(
        spark, d.filter(hash_bucket(F.col("doc_id")) < 80)
    )
    test = d.filter(hash_bucket(F.col("doc_id")) >= 80).select(
        "doc_id", "lang", "text"
    )

    def score(batch: DataFrame, _bid: int) -> DataFrame | None:
        return None if batch.isEmpty() else classify_docs(batch, grid)

    pred = drain_partials(
        spark,
        test.repartition(2),
        score,
        "doc_id bigint, lang string, pred_lang string",
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))


def run_stream_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming z-score anomaly monitor — the deployment
    event_value_outliers' docstring promises ('swap pass two for the
    live stream'): per-type moment stats are trained ONCE on the static
    history and broadcast into every micro-batch, each batch scores its
    own events and writes a per-type partial census (outlier count,
    event count, max z), and the drained partials merge associatively
    (sum/sum/max) — so the result hash-matches the batch oracle however
    the stream was batched.

    Scale shape: stateless serving (the stats frame is the only state,
    K rows); each trigger pays one broadcast join + map-side-combined
    aggregate over its own rows.  Refreshing the model is re-running
    the tiny stats aggregation on recent history — no stream restart,
    the next batch picks up the new broadcast."""
    from ..operators.events_queries import score_value_outliers, value_stats
    from ..sources.readers import load_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stats = value_stats(e).localCheckpoint(eager=True)

    parts = drain_partials(
        spark,
        e.repartition(2),
        lambda batch, _bid: score_value_outliers(batch, stats),
        "event_type string, n_outliers bigint, n_events bigint, max_z double",
    )
    return parts.groupBy("event_type").agg(
        F.sum("n_outliers").cast("bigint").alias("n_outliers"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("max_z").alias("max_z"),
    )


def run_ioc_aging_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
    fail_at_bid: int | None = None,
) -> DataFrame:
    """Incremental MERGE of the indicator-aging table: IOC sightings
    arrive as two micro-batches, and foreachBatch writes each batch's
    partial aggregates as one state shard; the serving view merges the
    committed shards — the pattern a lakehouse expresses as MERGE INTO,
    restated without a table format (production swaps the shard dirs for
    a Delta/Iceberg commit).

    The state grain is the FINEST MERGEABLE one, (ioc, type, source):
    min/max/count merge associatively at that grain, while the served
    n_sources = COUNT(DISTINCT source) does NOT merge from partials —
    so the state keeps one row per source and the serving view counts
    rows.  Choosing the mergeable grain is what makes the aging table
    maintainable incrementally at 100 TB of feed history: each batch
    touches O(batch distinct keys), never the history.

    REPLAY-SAFE: shards are ``drain_partials`` bid-keyed overwrites
    (``partials/b{bid}``, committed iff Spark's ``_SUCCESS`` marker
    exists), so a re-fired bid recomputes its own shard instead of
    double-counting.  Pass ``work_dir`` to make src/partials/checkpoint
    survive a restart (the kill-resume test in tests/test_streaming.py),
    ``fail_at_bid`` to inject a crash exactly in the vulnerable window
    (after the shard write, before the epoch commits)."""
    from ..operators.ioc_queries import ioc_table

    rows = ioc_table(spark, sf_dir).select(
        "ioc", "type", "source", "date_received"
    )

    def shard(batch: DataFrame, bid: int) -> DataFrame | None:
        if batch.isEmpty():
            return None
        part = batch.groupBy("ioc", "type", "source").agg(
            F.min("date_received").alias("first_seen"),
            F.max("date_received").alias("last_seen"),
            F.count("*").alias("n"),
        )
        if bid != fail_at_bid:
            return part
        _write_partial_bid(part, os.path.join(work_dir, "partials"), bid)
        raise RuntimeError(f"injected crash after state write of batch {bid}")

    state = (
        drain_partials(
            spark,
            rows.repartition(2),
            shard,
            "ioc string, type string, source string, first_seen string,"
            " last_seen string, n bigint",
            work_dir=work_dir,
        )
        .groupBy("ioc", "type", "source")
        .agg(
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
            F.sum("n").alias("n"),
        )
    )
    # count the source COLUMN, not rows: the state keeps a NULL-source
    # group too (its sightings belong in n_sightings), but
    # COUNT(DISTINCT source) ignores NULLs — so must we
    return state.groupBy("ioc", "type").agg(
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.sum("n").cast("bigint").alias("n_sightings"),
        F.count("source").alias("n_sources"),
    )


def run_stream_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mixture sampling: documents drain as two micro-batches,
    each filtered by the deterministic md5-bucket-vs-keep-rate decision
    (operators/sampling.py::mixture_keep_bp) in foreachBatch; survivors
    land as replay-safe partials and the drained census per source must equal the
    batch selection (the decision is a pure row function — batching
    cannot change it).

    Scale shape: stateless — no watermark, no state store; each batch
    pays one narrow filter evaluated at its own scan, and the mixture
    table (here a literal CASE, in production a broadcast dim of
    per-source rates) re-broadcasts into every trigger, so rate changes
    take effect at the next micro-batch without restarting the query."""
    from ..operators.sampling import hash_bucket, mixture_keep_bp
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )

    def keep(batch: DataFrame, _bid: int) -> DataFrame:
        return batch.filter(
            hash_bucket(F.col("doc_id"), 10000) < mixture_keep_bp()
        )

    kept = drain_partials(spark, d.repartition(2), keep, d.schema)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a STATIC
    dimension frame (event_type → engagement category) before
    aggregation.  The static side joins with no state store at all —
    Spark re-plans it into every micro-batch as a broadcast, which is
    how reference/metadata tables enrich streams at 100 TB (the dim
    refreshes per batch, needs no watermark, holds no state)."""
    from ..sources.readers import normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)
    # static dimension: category per event_type (derived, but any
    # batch DataFrame — a parquet dim table, a JDBC read — slots in)
    dim = normalize_event_ts(batch).select("event_type").distinct().select(
        "event_type",
        F.when(F.col("event_type").isin("click", "view"), F.lit("engagement"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("conversion"))
        .otherwise(F.lit("operational"))
        .alias("category"),
    )
    with replay(spark, path, batch.schema) as raw:
        agg = (
            normalize_event_ts(raw)
            .join(F.broadcast(dim), "event_type")
            .groupBy("category")
            .agg(F.count("*").alias("n_events"))
        )
        return drain_to_memory(spark, agg, "complete")


def run_partitioned_event_sink(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming → date-partitioned table with DYNAMIC PARTITION
    OVERWRITE: each micro-batch rewrites exactly the partitions it
    carries, so a replayed batch (failure between sink commit and
    checkpoint advance — the at-least-once window of foreachBatch)
    lands byte-identical instead of duplicating rows.  This is the
    idempotent-sink pattern for partition-aligned sources: the upstream
    layout guarantees each day lives in exactly one source file, so no
    batch can clobber another batch's partition.

    At 100 TB this replaces read-modify-write upserts for append-mostly
    event tables: the sink cost is O(touched partitions), the table
    stays partition-pruned for readers, and recovery needs no
    table-level transaction log."""
    from ..sources.readers import normalize_event_ts

    batch = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    daily = batch.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    def write_day_partitions(bdf: DataFrame, epoch_id: int) -> None:
        (
            bdf.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(out_dir)
        )

    # source layout: every day in exactly one file (hash-partitioned by
    # day, one file per partition)
    with replay(spark, daily.repartition(F.col("day"))) as stream:
        drain(
            spark, stream.writeStream.foreachBatch(write_day_partitions),
            checkpoint_dir,
        )
    return spark.read.parquet(out_dir)


def run_ioc_stream(
    spark: SparkSession,
    json_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """End-to-end streaming IOC pipeline over a directory of tweet-JSON
    files (the test harness feeds micro-batches by dropping files):
    readStream(text) → parse → extract → explode → append-mode parquet
    sink in ``out_dir`` — the recoverable kind: a second run against the
    same checkpoint processes ONLY files that arrived since (exactly-once
    resume, replacing h-isac.py:149-153's last_run stamp).  All three
    dirs are the caller's; the run creates and removes nothing.
    """
    raw = spark.readStream.format("text").load(json_dir)
    drain_to_files(
        spark, tweets_to_ioc_rows(parse_tweets(raw, "value")), out_dir,
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)


def run_click_error_join_stream(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """Stream-stream join with watermarks, run to completion: error
    events within 10 minutes after a click by the same user — the
    streaming form of the batch time-range join
    (operators/analytics.py::q_click_error_range_join).

    Both sides are real streams (the same file source filtered two
    ways — Spark plans it as a stream-stream self-join).  The join key
    (user_id) carries the state partitioning; the time-range condition
    plus both watermarks bound the join state, so state size is
    O(events per 30-minute horizon), not O(stream length) — the
    property that keeps the operator alive indefinitely at cluster
    scale.  Inner-join results append as matches arrive; AvailableNow
    drains the fixture and the result equals the batch join exactly.

    ``how="leftOuter"`` adds the unmatched-emit semantics: a click with
    no error inside its 10-minute horizon emits once with NULL error
    columns when the global watermark (min of both sides' max event
    time − 30 min delay) passes the END of its match window
    (c_ts + 10 min) — i.e. when its join state is provably complete and
    evicted.  Clicks whose window is still open against the final
    watermark when AvailableNow drains do NOT emit — they are pending,
    not unmatched (the same end-of-stream truncation every watermarked
    append sink has; the batch oracle states the final-watermark cutoff
    explicitly).
    """
    from ..sources.readers import normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    with replay(spark, path, spark.read.parquet(path).schema) as raw:
        return drain_to_memory(
            spark, _click_error_join(normalize_event_ts(raw), how), "append"
        )


def _click_error_join(stream: DataFrame, how: str) -> DataFrame:
    clicks = (
        stream.filter((F.col("event_type") == "click") & (F.col("user_id") < 40))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "30 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    if how == "leftSemi":
        # semi join: left rows emit AS SOON AS a match arrives (no
        # watermark wait — only unmatched emission needs eviction), so
        # the AvailableNow drain yields exactly the batch EXISTS set
        joined = clicks.join(errors, cond, "leftSemi").select(
            "click_id",
            F.col("c_user").alias("user_id"),
            F.unix_micros(F.col("c_ts")).alias("c_ts_us"),
        )
    else:
        joined = clicks.join(errors, cond, how).select(
            "click_id",
            "error_id",
            (
                F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))
            ).alias("lag_us"),
        )
    return joined


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window() as a REAL streaming query: merging session
    state per user with a 30-minute inactivity gap, drained with
    AvailableNow in complete mode.

    Session state lives in the state store partitioned by user_id.  In
    production the query runs append-mode with a watermark (state is
    O(active users × open sessions) and sessions emit as they close);
    the parity run uses complete mode because append can never emit the
    sessions still open at end-of-stream.  The per-session rows land in
    the sink; the per-user rollup is an ordinary batch agg over the
    drained result.
    """
    from ..sources.readers import normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    # complete mode, no watermark: append mode would never emit
    # sessions still open at end-of-stream (their windows sit above the
    # final watermark), so the drained fixture would be missing its last
    # 30 minutes of sessions.  Production config is append + watermark
    # (bounded state, sessions emit as they close); the parity run needs
    # the full final answer, which complete mode re-emits per trigger.
    with replay(spark, path, spark.read.parquet(path).schema) as raw:
        per_session = (
            normalize_event_ts(raw)
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n"))
        )
        sessions = drain_to_memory(spark, per_session, "complete")
    return (
        sessions
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").alias("max_session_events"),
        )
    )


def run_session_window_stream_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native session_window() in APPEND mode with a watermark — the
    PRODUCTION sessionization config (the complete-mode twin above is
    the parity convenience): session state is bounded by the 30-minute
    watermark and each session emits EXACTLY ONCE, when the watermark
    passes its window end (last event + gap).  Drained with
    AvailableNow, the sink holds precisely the sessions that CLOSED
    against the final watermark; sessions still open at end-of-stream
    stay pending — the same truncation contract as the outer-join
    unmatched rows, stated explicitly in the batch oracle's cutoff
    (sessions with last_ts + gap ≤ max_ts − delay, both sides at the
    millisecond grain Spark's event-time stats use — pinned
    empirically, the CLAUDE.md watermark discipline).

    Scale shape: state is O(open sessions) per user partition; the
    emission is pure eviction.  user_id < 10 bounds the fixture run;
    production drops the predicate."""
    from ..sources.readers import normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    with replay(spark, path, spark.read.parquet(path).schema) as raw:
        per_session = (
            normalize_event_ts(raw)
            .filter(F.col("user_id") < 10)
            .withWatermark("ts", "30 minutes")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
                .alias("session_start"),
                F.col("n_events").cast("bigint").alias("n_events"),
            )
        )
        return drain_to_memory(spark, per_session, "append")


def run_stream_countmin(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
    fail_at_bid: int | None = None,
) -> DataFrame:
    """Streaming Count-Min sketch construction — the mergeability
    property exercised for real: each micro-batch of documents builds
    its own (i, b, c) partial sketch (a fixed d·w-counter census) and
    writes it under its BATCH ID; the committed partials fold by
    integer ADDITION into the corpus sketch, bit-identical to the batch
    build regardless of how the stream was batched — the defining
    property of a linear sketch, and the reason CM is the heavy-hitter
    state for unbounded token streams (state is d·w counters forever,
    merge is associative, so it survives repartitioning, restarts, and
    shard-parallel ingest).  REPLAY-SAFE: partials are bid-keyed
    overwrites, so an at-least-once re-fire recomputes ``b{bid}``
    instead of appending a duplicate sketch (pass ``work_dir`` +
    ``fail_at_bid`` to exercise the crash-resume path).

    Scale shape: per trigger one map-side-combined aggregate bounded by
    d·w rows; the final fold touches (batches · d·w) partial rows,
    never the corpus."""
    from ..operators.text_queries import cm_token_partials
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def fold(batch: DataFrame, bid: int) -> DataFrame | None:
        if batch.isEmpty():
            return None
        part = cm_token_partials(batch)
        if bid != fail_at_bid:
            return part
        _write_partial_bid(part, os.path.join(work_dir, "partials"), bid)
        raise RuntimeError(f"injected crash after partial write of batch {bid}")

    parts = drain_partials(
        spark,
        d.repartition(4),
        fold,
        "i bigint, b bigint, c bigint",
        work_dir=work_dir,
    )
    return parts.groupBy("i", "b").agg(F.sum("c").cast("bigint").alias("c"))


def run_stream_cdc_retraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC fold with DELETES: the change stream (inserts =
    orders on/after the IVM cut, deletes = base orders picked by the
    retraction modulus) arrives as micro-batches; each trigger
    aggregates its rows into a SIGNED per-group partial (+1/+price for
    I, −1/−price for D — COUNT and the mantissa SUM form a group under
    retraction, so partials fold by addition) written bid-keyed and
    replay-safe.  Returns the summed delta state (o_orderpriority, dn,
    ds) for the caller to merge with stored base state — the Flink
    retract-stream shape on Structured Streaming.

    Scale shape: per trigger one map-side-combined signed aggregate
    bounded by the group count; the end-of-stream fold touches
    (batches × groups) partial rows, never the base table."""
    from ..operators.relational import _IVM_CUT, _RETRACT_MOD, mi
    from ..sources.readers import load_table

    # NULL-date rows are excluded from the change stream entirely: the
    # audit recompute (relational.py q_stream_retractable_agg `full`)
    # and the oracle's WHERE both drop them via three-valued logic, so
    # classifying them as inserts here would break the fold==recompute
    # receipt the moment a NULL date appears (ADVICE r11 low).
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").alias("d"),
            mi(F.col("o_totalprice")).alias("pi"),
        )
    )
    is_base = F.col("d") < _IVM_CUT
    ins = o.filter(~is_base).select(
        "o_orderpriority", "pi", F.lit("I").alias("op")
    )
    dels = o.filter(
        is_base & (F.col("o_orderkey") % 10 == _RETRACT_MOD)
    ).select("o_orderpriority", "pi", F.lit("D").alias("op"))

    def fold(batch: DataFrame, _bid: int) -> DataFrame:
        sign = F.when(F.col("op") == "I", F.lit(1)).otherwise(F.lit(-1))
        return batch.groupBy("o_orderpriority").agg(
            F.sum(sign).alias("n"),
            F.sum(
                sign.cast("decimal(38,0)") * F.col("pi").cast("decimal(38,0)")
            ).alias("s"),
        )

    return (
        drain_partials(
            spark,
            ins.unionByName(dels).repartition(4),
            fold,
            "o_orderpriority string, n bigint, s decimal(38,0)",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("dn"),
            F.sum("s").cast("decimal(38,0)").alias("ds"),
        )
    )


def run_stream_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the DP release's TRUE counts: the two
    histograms' keyed event rows arrive as micro-batches; each trigger
    folds a per-(release, key) COUNT partial, written bid-keyed and
    replay-safe.  Counts fold by addition, so the merged state is
    batch-identical for any batching or at-least-once replay — noise
    and the epsilon ledger are applied ONCE at release time by the
    caller (noising partials would both break mergeability and spend
    budget per batch; the aggregate-then-release shape every deployed
    DP telemetry pipeline uses).

    Scale shape: per trigger one map-side-combined count bounded by the
    cell count; the drain fold touches (batches × cells) rows."""
    from ..sources.readers import load_table

    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    rel = e.select(
        F.lit("type_hist").alias("release"),
        F.col("event_type").alias("key"),
    ).unionByName(
        e.select(
            F.lit("dow_hist").alias("release"),
            (F.dayofweek("ts") - 1).cast("string").alias("key"),
        )
    )
    return _run_stream_count_fold(
        spark, rel, ["release", "key"]
    ).withColumnRenamed("c", "n_true")


def run_stream_conformal_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CALIBRATION-score maintenance for the conformal twin:
    calibration events (the md5-split 50≤b<75 slice, scored against
    the static per-type train median) arrive as micro-batches; each
    trigger folds its rows into a per-(event_type, score) COUNT
    HISTOGRAM partial — nonconformity scores are exact mantissa
    integers, so the histogram is the score multiset without loss and
    partials fold by addition (the quantile_summary_merge discipline,
    exact because the domain is integer).  Partials are written
    bid-keyed and replay-safe; returns the summed (event_type, s, c)
    state from which the caller computes the exact finite-sample
    conformal rank — the merged-rank-at-drain shape a serving monitor
    maintains across CDC arrivals.

    Scale shape: per trigger one map-side-combined count bounded by the
    batch's distinct (type, score) pairs; the end-of-stream fold
    touches (batches × distinct scores) partial rows, never the event
    table."""
    from ..operators.events_queries import _conformal_base

    e, med = _conformal_base(spark, sf_dir)
    cal = (
        e.filter((F.col("b") >= 50) & (F.col("b") < 75))
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("vi") - F.col("med_i")).alias("s"),
        )
    )
    return _run_stream_count_fold(spark, cal, ["event_type", "s"])


def _run_stream_count_fold(
    spark: SparkSession, staged: DataFrame, keys: list[str]
) -> DataFrame:
    """Shared additive-count streaming fold: replay `staged` as four
    files, one per trigger (``drain_partials``), fold each
    micro-batch into a per-`keys` integer COUNT partial written
    bid-keyed and replay-safe, and return the end-of-stream merged
    (keys..., c) census.  Counts are additive integers, so the merged
    state is batch-identical under any batching, ordering, or
    at-least-once replay — the pattern behind the conformal / DP / BT /
    AUC streaming twins.

    Scale shape: per trigger one map-side-combined count bounded by the
    batch's distinct key combinations; the end-of-stream fold touches
    (batches × distinct keys) partial rows, never the staged stream."""
    def fold(batch: DataFrame, _bid: int) -> DataFrame:
        return batch.groupBy(*keys).agg(F.count("*").alias("c"))

    return (
        drain_partials(
            spark, staged.repartition(4), fold, fold(staged, 0).schema
        )
        .groupBy(*keys)
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def run_stream_bt_comparisons(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming WIN-MATRIX maintenance for the Bradley-Terry twin:
    (winner, loser) comparison pairs arrive as micro-batches and fold
    into additive (wi, lo) count partials; returns the merged matrix
    with the count aliased `w` as `_bt_fit_from_wmat` expects."""
    from ..operators.events_queries import _bt_comparisons

    gm = _bt_comparisons(spark, sf_dir)
    return _run_stream_count_fold(spark, gm, ["wi", "lo"]).withColumnRenamed(
        "c", "w"
    )


def run_stream_auc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCORE-CENSUS maintenance for the AUC twin: scored
    events arrive as micro-batches and fold into additive
    (vi, event_type) count partials; returns the merged census."""
    from ..sources.readers import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("vi"),
        )
    )
    return _run_stream_count_fold(spark, e, ["vi", "event_type"])


def run_stream_span_occurrences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming leg of incremental span maintenance: the NEW batch's
    documents arrive as micro-batches; each trigger extracts its docs'
    positional-gram OCCURRENCES (doc_id, p, h) and writes them as a
    bid-keyed overwrite partial (replay-safe — an at-least-once
    re-fire overwrites ``b{bid}`` instead of duplicating occurrences).
    Occurrence extraction is a pure per-doc map, so the union of
    committed partials equals the batch extraction for ANY batching —
    the fold downstream (probe stored census + batch-internal census +
    islands) runs once at end of stream on the merged occurrences.

    Scale shape: per trigger one narrow projection of the batch's
    docs; partials are 16-byte (p, h) rows per gram, text never lands
    in the partial store."""
    from ..operators.dedup import _SPAN_INC_CUT, _span_occ, _span_tokens
    from ..sources.readers import load_table

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & (F.col("doc_id") >= _SPAN_INC_CUT)
        )
        .select("doc_id", "text")
    )
    return drain_partials(
        spark,
        d.repartition(4),
        lambda batch, _bid: _span_occ(_span_tokens(batch)),
        "doc_id bigint, p int, h bigint",
    )


def run_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct sketch: per micro-batch the per-source
    bottom-k of the batch's distinct token hashes is written as a
    bid-keyed overwrite partial (replay-safe, like run_stream_countmin);
    the fold re-ranks the union of committed partials — the KMV
    set-union merge — and estimates from the merged sketch.  State per
    (batch, source) is k integers; the fold never touches the corpus."""
    from ..operators.analytics import (
        kmv_bottom_k,
        kmv_estimate,
        kmv_token_hashes,
    )
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    parts = drain_partials(
        spark,
        d.repartition(4),
        lambda batch, _bid: kmv_bottom_k(kmv_token_hashes(batch)),
        "source string, h bigint",
    )
    return kmv_estimate(kmv_bottom_k(parts.distinct()))


def run_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static TEMPORAL join: purchase facts arrive as a stream
    and enrich per micro-batch against a STATIC SCD2 dimension — the
    join-as-of-THEN pattern (scd2_temporal_join) run the way a serving
    pipeline actually runs it, with the dimension as a broadcast
    lookup and the facts unbounded.  The join is STATELESS (static
    side, inner join): each micro-batch joins independently, no
    watermark, no state store — so the drained result equals the batch
    join exactly for ANY micro-batching, which is what the oracle
    checks.  At 100 TB the dimension is the compacted SCD2 table
    refreshed out-of-band; swapping it between triggers is the
    standard slowly-changing-lookup serving shape."""
    from ..sources.readers import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & (F.col("user_id") % 10 == 0))
        .select("user_id", "event_type", "ts", "event_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("vf"), "event_id"
        )
        .withColumn(
            "vt",
            F.lead("vf").over(
                Window.partitionBy("user_id").orderBy("vf", "event_id")
            ),
        )
        .drop("event_id")
        .localCheckpoint(eager=True)
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    with replay(spark, purchases.repartition(4)) as stream:
        p, v = stream.alias("p"), F.broadcast(versions).alias("v")
        joined = p.join(
            v,
            (F.col("p.user_id") == F.col("v.user_id"))
            & (F.col("v.vf") <= F.col("p.ts"))
            & ((F.col("p.ts") < F.col("v.vt")) | F.col("v.vt").isNull()),
        ).select(
            F.col("p.event_id").alias("event_id"),
            F.col("p.user_id").alias("user_id"),
            F.date_format("p.ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.col("v.event_type").alias("regime_type"),
            F.date_format("v.vf", "yyyy-MM-dd HH:mm:ss").alias("regime_from"),
        )
        return drain_to_memory(spark, joined, "append").localCheckpoint(
            eager=True
        )


def run_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per micro-batch the
    batch's canonical MG summary (capacity m, counts minus the batch's
    (m+1)-th-largest offset) is written as a bid-keyed overwrite
    partial (replay-safe, like run_stream_kmv); the fold SUMS counters
    across committed partials and re-truncates at the merged
    (m+1)-th largest — the Agarwal et al. one-shot symmetric merge,
    whose error law Σ d_batch + d_final the serving query audits
    against exact counts.  Unlike KMV/HLL/count-min, an MG summary is
    NOT batching-invariant (each batch's offset depends on its
    content), so the fixture stages DETERMINISTIC batches — four files
    split by md5(doc_id) % 4 — and the oracle recomputes the same four
    summaries; the FOLD itself is symmetric over the partial set, so
    file arrival order still doesn't matter.  State per batch is
    ≤ m counter rows + one offset."""
    from pyspark.sql import Window

    from ..operators.dedup import _shingle_int
    from ..operators.text_queries import _MG_M, mg_partial, mg_tokens
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    staged = d.withColumn(
        "b", _shingle_int(F.col("doc_id").cast("string")) % 4
    ).localCheckpoint(eager=True)

    def fold(batch: DataFrame, bid: int) -> DataFrame | None:
        if batch.isEmpty():
            return None
        # sentinel=True (ADVICE r10): a degenerate batch whose top m+1
        # token counts all tie yields an EMPTY counter set (no f > d);
        # without the sentinel row that batch's truncation offset d
        # would vanish from d_sum while the oracle's dd CTE still
        # counts every shard — err_bound and the hash would diverge.
        return mg_partial(mg_tokens(batch), sentinel=True).withColumn(
            "bid", F.lit(bid)
        )

    parts = drain_partials(
        spark, staged, fold, "tok string, c bigint, d bigint, bid int", buckets=4
    )
    d_sum = (
        parts.select("bid", "d")
        .distinct()
        .agg(F.coalesce(F.sum("d"), F.lit(0)).alias("d12"))
    )
    # NULL tok rows are the per-bid offset sentinels — offset-only
    # carriers (c=0), excluded from the counter fold.
    merged0 = (
        parts.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.sum("c").alias("g"))
    )
    rn = F.row_number().over(
        Window.orderBy(F.col("g").desc(), _shingle_int(F.col("tok")))
    )
    d3s = (
        merged0.withColumn("rn", rn)
        .filter(F.col("rn") == _MG_M + 1)
        .agg(F.coalesce(F.max("g"), F.lit(0)).alias("d3"))
    )
    errb = d_sum.crossJoin(F.broadcast(d3s)).select(
        (F.col("d12") + F.col("d3")).alias("err_bound")
    )
    hh = (
        merged0.crossJoin(F.broadcast(d3s))
        .filter(F.col("g") > F.col("d3"))
        .select("tok", (F.col("g") - F.col("d3")).alias("est"))
    )
    exact = mg_tokens(d).groupBy("tok").agg(F.count("*").alias("f"))
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


def run_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL registers: per micro-batch the batch's occupied
    (source, idx, r) registers are written as a bid-keyed overwrite
    partial (replay-safe, like run_stream_kmv); the fold MAX-merges the
    union of committed partials — register-wise max is associative,
    commutative, and idempotent, so the merged registers equal the
    one-pass build for any batching or replay.  State per (batch,
    source) is at most m=64 small integers."""
    from ..operators.analytics import hll_batch_registers, hll_estimate
    from ..sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    parts = drain_partials(
        spark,
        d.repartition(4),
        lambda batch, _bid: hll_batch_registers(batch),
        "source string, idx bigint, r bigint",
    )
    merged = parts.groupBy("source", "idx").agg(F.max("r").alias("r"))
    return hll_estimate(merged)


def run_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the argmin/argmax partial-merge law
    exercised across micro-batches: each batch compacts its own events
    to per-(hour, type) PARTIAL bars (first/last struct, hi, lo, count,
    sum), and the drained partials fold with the SAME struct-extrema
    aggregation — min of firsts is the true open, max of lasts the true
    close — so the merged bars hash-match the batch oracle however the
    stream was split.  This is the property that lets a bar pipeline
    run shard-parallel and out of order at 100 TB: every partial is a
    few columns per (bar, type), associative and commutative under
    merge, exactly like the moment partials of stream_value_outliers.
    REPLAY-SAFE: partials are bid-keyed overwrites folded from
    committed (_SUCCESS) subdirs only — an at-least-once re-fire
    recomputes its own partial instead of double-counting a bar.

    Scale shape: per trigger one map-side-combined SortAggregate over
    the batch's own rows; the final fold touches (batches x bars)
    partial rows, never the raw events."""
    from ..sources.readers import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )

    def partial_bars(batch: DataFrame, _bid: int) -> DataFrame:
        vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
        ev = batch.select(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_start"),
            "event_type",
            "ts",
            "event_id",
            vi.alias("vi"),
        )
        part = ev.groupBy("hour_start", "event_type").agg(
            F.min(F.struct("ts", "event_id", "vi")).alias("first"),
            F.max(F.struct("ts", "event_id", "vi")).alias("last"),
            F.max("vi").alias("hi"),
            F.min("vi").alias("lo"),
            F.count("*").alias("cnt"),
            F.sum("vi").alias("sm"),
        )
        return part.select(
            "hour_start",
            "event_type",
            F.col("first.ts").alias("f_ts"),
            F.col("first.event_id").alias("f_eid"),
            F.col("first.vi").alias("f_vi"),
            F.col("last.ts").alias("l_ts"),
            F.col("last.event_id").alias("l_eid"),
            F.col("last.vi").alias("l_vi"),
            "hi",
            "lo",
            "cnt",
            "sm",
        )

    parts = drain_partials(
        spark,
        e.repartition(3),
        partial_bars,
        "hour_start string, event_type string, f_ts timestamp, f_eid bigint,"
        " f_vi bigint, l_ts timestamp, l_eid bigint, l_vi bigint, hi bigint,"
        " lo bigint, cnt bigint, sm bigint",
    )
    merged = parts.groupBy("hour_start", "event_type").agg(
        F.min(F.struct("f_ts", "f_eid", "f_vi")).getField("f_vi").alias("o_vi"),
        F.max("hi").alias("hi"),
        F.min("lo").alias("lo"),
        F.max(F.struct("l_ts", "l_eid", "l_vi")).getField("l_vi").alias("c_vi"),
        F.sum("cnt").cast("bigint").alias("volume"),
        F.sum("sm").alias("sm"),
    )
    return merged.select(
        "hour_start",
        "event_type",
        (F.col("o_vi").cast("double") / F.lit(1e4)).alias("open"),
        (F.col("hi").cast("double") / F.lit(1e4)).alias("high"),
        (F.col("lo").cast("double") / F.lit(1e4)).alias("low"),
        (F.col("c_vi").cast("double") / F.lit(1e4)).alias("close"),
        "volume",
        (F.col("sm").cast("double") / F.lit(1e4)).alias("total_value"),
    )


def run_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom build: dim keys arrive in micro-batches; each
    batch's distinct bit positions land as a bid-keyed overwrite
    partial (replay-safe), the fold unions committed partials into the
    filter, and the full false-positive audit runs against the static
    fact side.  Bit sets are idempotent under union, so this is the
    most forgiving of the three mergeable sketches — but the committed
    partial discipline still applies (a half-written partial must not
    fold)."""
    from ..operators.pruning import bloom_audit_row, bloom_bits, bloom_dim

    dim = bloom_dim(spark, sf_dir)
    bits = drain_partials(
        spark,
        dim.repartition(4),
        lambda batch, _bid: bloom_bits(batch),
        "pos bigint",
    )
    return bloom_audit_row(spark, sf_dir, dim, bits.distinct())


def run_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-drift state: per micro-batch the (label,
    era, dim) moment partials land as bid-keyed overwrite partials
    (replay-safe); the fold sums committed partials — exact-integer
    additivity — and applies the shared closed form.  See
    operators.similarity.q_stream_embedding_drift."""
    from ..operators.similarity import drift_from_sums, drift_partial_sums
    from ..sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # merge partials by ADDITION at the (label, era, i) grain first —
    # drift_from_sums then folds eras exactly like the batch pass
    parts = (
        drain_partials(
            spark,
            e.repartition(4),
            lambda batch, _bid: drift_partial_sums(batch),
            "label int, era bigint, i int, s bigint, n bigint",
        )
        .groupBy("label", "era", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    return drift_from_sums(parts)


def run_stream_topk_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the last-k point window the robust
    trend pair (Theil-Sen / Mann-Kendall) runs on: each micro-batch
    keeps only ITS OWN last-k points per event type (a batch-local
    rank window) and writes them as a bid-keyed replay-safe partial;
    the drain re-ranks the UNION and keeps the global last-k.  The
    fold is exact by the order-statistic MERGE LAW: the global top-k
    under a total order is contained in the union of per-batch top-ks
    — the same law priority_sample_merge_audit pins for bottom-k —
    so state per batch is k·types rows, never the stream.

    Returns the merged (event_type, vi, ts, event_id) candidate set
    (≤ k·batches·types rows) for the caller to re-rank."""
    from ..operators.events_queries import _TS_K
    from ..sources.readers import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * 10000).cast("bigint").alias("vi"),
        )
    )

    def fold(batch: DataFrame, _bid: int) -> DataFrame:
        from pyspark.sql import Window as W

        w = W.partitionBy("event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TS_K)
            .select("event_type", "vi", "ts", "event_id")
        )

    return drain_partials(
        spark,
        e.repartition(4),
        fold,
        "event_type string, vi bigint, ts timestamp, event_id bigint",
    )
