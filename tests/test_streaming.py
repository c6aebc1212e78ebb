"""Structured Streaming tests — SURVEY.md §5.5: micro-batch pipeline
semantics (retweet filter, nested projection, explode), checkpoint
resume (the reference's last_run semantics, ST2), and streaming/batch
parity of the windowed aggregation."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from cybersecurity_ioc_etl_spark.sources.readers import load_table
from cybersecurity_ioc_etl_spark.streaming.pipeline import (
    parse_tweets,
    run_hourly_counts_stream,
    run_ioc_stream,
    tweets_to_ioc_rows,
)


def _tweet(id_, text, retweeted=False, extended=None, tags=(), urls=()):
    return json.dumps(
        {
            "created_at": "Mon Jan 01 00:00:00 +0000 2024",
            "id": id_,
            "text": text,
            "retweeted": retweeted,
            "extended_tweet": {"full_text": extended} if extended else None,
            "user": {"screen_name": "analyst"},
            "entities": {
                "hashtags": [{"text": t} for t in tags],
                "urls": [{"expanded_url": u} for u in urls],
            },
        }
    )


def _raw(spark, payloads):
    return spark.createDataFrame([(p,) for p in payloads], ["value"])


def test_retweet_and_rt_prefix_dropped(spark):
    rows = parse_tweets(
        _raw(
            spark,
            [
                _tweet(1, "malware at 1.2.3.4"),
                _tweet(2, "RT @someone: old news"),
                _tweet(3, "quoted", retweeted=True),
            ],
        )
    ).collect()
    assert [r.id for r in rows] == [1]


def test_extended_text_fallback_and_ws_normalization(spark):
    rows = parse_tweets(
        _raw(spark, [_tweet(7, "short", extended="long\r\nfull text")])
    ).collect()
    assert rows[0].text == "long full text"


def test_tags_kept_as_array_not_joined_string(spark):
    rows = parse_tweets(
        _raw(spark, [_tweet(9, "x", tags=("emotet", "malspam"))])
    ).collect()
    assert rows[0].tags == ["emotet", "malspam"]


def test_ioc_rows_exploded_and_refanged(spark):
    tweets = parse_tweets(
        _raw(spark, [_tweet(5, "c2 at 10[.]0[.]0[.]1 and hxxps://evil[.]example/x", tags=("ransomware",))])
    )
    rows = {(r.type, r.ioc) for r in tweets_to_ioc_rows(tweets).collect()}
    assert ("ip", "10.0.0.1") in rows
    assert ("url", "https://evil.example/x") in rows
    cols = tweets_to_ioc_rows(tweets).columns
    assert cols == [
        "id", "date_added", "date_received", "ioc", "platform", "source", "tag", "type",
    ]


def test_ioc_stream_checkpoint_resume(spark):
    """AvailableNow + checkpoint = the reference's resume-from-last_run
    (h-isac.py:149-153) without the AM/PM bug: a second run with the
    same checkpoint must process ONLY files added since the first."""
    src = tempfile.mkdtemp(prefix="tweets_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    out = tempfile.mkdtemp(prefix="iocs_")
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(_tweet(1, "ip 1[.]2[.]3[.]4") + "\n")
    first = run_ioc_stream(spark, src, ckpt, out_dir=out)
    assert [r.ioc for r in first.collect()] == ["1.2.3.4"]

    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(_tweet(2, "ip 5[.]6[.]7[.]8") + "\n")
    second = run_ioc_stream(spark, src, ckpt, out_dir=out)
    # a.json NOT reprocessed: exactly one row per IOC, no duplicates
    assert sorted(r.ioc for r in second.collect()) == ["1.2.3.4", "5.6.7.8"]


def test_hourly_counts_stream_matches_batch(spark, sf_dir):
    """Streaming window agg == the identical batch aggregation (the
    correctness claim of micro-batch execution)."""
    streamed = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in run_hourly_counts_stream(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
    batch = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(vi.cast("decimal(38,0)")).cast("double") / 1e4).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .collect()
    }
    assert streamed == batch


def test_malformed_json_yields_no_ioc_rows_and_no_crash(spark):
    """PERMISSIVE parsing (SURVEY §1.3): a corrupt payload nulls out the
    envelope instead of killing the stream, and the null text produces
    zero IOC rows downstream — the reference's json.loads would throw
    inside on_data (firehose.py:20)."""
    raw = _raw(
        spark,
        [
            "{not valid json at all",
            _tweet(1, "ip 1[.]2[.]3[.]4"),
        ],
    )
    rows = tweets_to_ioc_rows(parse_tweets(raw)).collect()
    assert [r.ioc for r in rows] == ["1.2.3.4"]


def test_stream_path_gains_email_extraction_and_refang(spark):
    """Documented divergence (SURVEY §4.3.4): the reference's stream
    path has NO email extraction and defang-naive IP regexes; the
    engine unifies both paths, so a defanged email in a tweet IS
    extracted and refanged."""
    tweets = parse_tweets(
        _raw(spark, [_tweet(9, "leak to bad[.]actor@evil.example[.]org now")])
    )
    rows = {(r.type, r.ioc) for r in tweets_to_ioc_rows(tweets).collect()}
    assert ("email", "bad.actor@evil.example.org") in rows


def test_partitioned_sink_dynamic_overwrite_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite: the table is complete
    and day-partitioned after the run, and replaying the WHOLE stream
    against the same table (fresh checkpoint — every batch re-fires)
    leaves it byte-identical instead of duplicated."""
    from cybersecurity_ioc_etl_spark.sources.readers import load_table
    from cybersecurity_ioc_etl_spark.streaming.pipeline import (
        run_partitioned_event_sink,
    )

    out = str(tmp_path / "events_table")
    n_src = load_table(spark, sf_dir, "events").count()

    got = run_partitioned_event_sink(spark, sf_dir, out, str(tmp_path / "ck1"))
    assert got.count() == n_src
    days = {r.day for r in got.select("day").distinct().collect()}
    assert len(days) >= 2  # really partitioned
    import os

    assert all(any(d == f"day={v}" for d in os.listdir(out)) for v in days)

    # full replay with a fresh checkpoint: idempotent, not doubled
    again = run_partitioned_event_sink(spark, sf_dir, out, str(tmp_path / "ck2"))
    assert again.count() == n_src


def test_neardup_stream_matches_batch_distinct_signatures(spark, sf_dir):
    """Streaming MinHash dedup must emit exactly one row per distinct
    k=4 signature — the batch DISTINCT — including for doc_id=0, whose
    synthetic event time must clear the initial epoch watermark, and
    must genuinely DROP the exact-clone near-dups in the fixture."""
    from cybersecurity_ioc_etl_spark.operators.dedup import minhash_row
    from cybersecurity_ioc_etl_spark.streaming.pipeline import run_neardup_stream

    out = run_neardup_stream(spark, sf_dir)
    emitted = {(r.mh_0, r.mh_1, r.mh_2, r.mh_3, ) for r in out.collect()}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 500)
    batch = d.select(*minhash_row(F.col("text"), k=4)).collect()
    distinct = {tuple(r) for r in batch}
    assert emitted == distinct
    assert len(batch) > len(distinct)  # fixture has clones → state dropped rows


def test_aging_merge_crash_replay_resume_identical(spark, sf_dir):
    """Kill-resume safety of the incremental aging MERGE (VERDICT r5
    item 6 / ADVICE r5): crash injected in the vulnerable window (state
    version written, epoch NOT committed) — the restart replays that
    batch id, and because versions are keyed by bid and each merge
    reads only versions with a smaller bid, the replay recomputes the
    identical version instead of double-counting n_sightings.  The
    resumed table must equal a clean one-shot run exactly."""
    import pyspark.errors

    from cybersecurity_ioc_etl_spark.streaming.pipeline import (
        run_ioc_aging_stream,
    )

    work = tempfile.mkdtemp(prefix="aging_resume_")
    try:
        run_ioc_aging_stream(spark, sf_dir, work_dir=work, fail_at_bid=1)
        raise AssertionError("injected crash did not fire")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    # the crashed run left v1 on disk but its epoch uncommitted
    assert os.path.exists(os.path.join(work, "partials", "b1", "_SUCCESS"))
    resumed = run_ioc_aging_stream(spark, sf_dir, work_dir=work)
    oneshot = run_ioc_aging_stream(spark, sf_dir)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_countmin_stream_crash_replay_resume_identical(spark, sf_dir):
    """Replay safety of the streaming CM partial sink (ADVICE r6): the
    crash fires AFTER batch 1's partial is written but before its epoch
    commits, so the restart re-fires bid 1 with the same rows.  Because
    partials are bid-keyed OVERWRITES (not blind appends), the replay
    rewrites b1/ instead of double-counting the sketch — the resumed
    fold must equal a clean one-shot run exactly."""
    import pyspark.errors

    from cybersecurity_ioc_etl_spark.streaming.pipeline import (
        run_stream_countmin,
    )

    work = tempfile.mkdtemp(prefix="cm_resume_")
    try:
        run_stream_countmin(spark, sf_dir, work_dir=work, fail_at_bid=1)
        raise AssertionError("injected crash did not fire")
    except pyspark.errors.exceptions.captured.StreamingQueryException:
        pass
    # the crashed run left b1 committed on disk but its epoch uncommitted
    assert os.path.exists(os.path.join(work, "partials", "b1", "_SUCCESS"))
    resumed = run_stream_countmin(spark, sf_dir, work_dir=work)
    oneshot = run_stream_countmin(spark, sf_dir)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_update_mode_emits_only_revised_groups(spark):
    """UPDATE output mode — the third sink contract beside append and
    complete: each micro-batch emits ONLY the aggregate rows revised by
    that batch (append would wait for the watermark; complete re-emits
    everything).  Two micro-batches update overlapping keys; the sink's
    last-emit-per-key must equal the batch aggregate, and the second
    batch must NOT re-emit the untouched key."""
    import uuid

    src = tempfile.mkdtemp(prefix="upd_src_")
    ckpt = tempfile.mkdtemp(prefix="upd_ckpt_")
    with open(f"{src}/a.json", "w") as f:
        for r in [{"k": "a"}, {"k": "a"}, {"k": "b"}]:
            f.write(json.dumps(r) + "\n")
    with open(f"{src}/b.json", "w") as f:
        for r in [{"k": "a"}]:
            f.write(json.dumps(r) + "\n")
    # pin distinct mtimes so maxFilesPerTrigger=1 replays a then b
    t0 = os.path.getmtime(f"{src}/a.json")
    os.utime(f"{src}/b.json", (t0 + 10, t0 + 10))

    counts = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .groupBy("k")
        .count()
    )
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [(r.k, r["count"]) for r in spark.table(name).collect()]
    # batch 1 emits a=2, b=1; batch 2 revises ONLY a -> a=3
    assert sorted(rows) == [("a", 2), ("a", 3), ("b", 1)]


def test_committed_partial_dirs_skip_datafile_free_commits(spark, tmp_path):
    """ADVICE-r14: an empty micro-batch's bid-keyed overwrite commits a
    dir holding only _SUCCESS (empty-relation plans write no part
    files); the fold must skip such dirs — reading them throws
    UNABLE_TO_INFER_SCHEMA — and an ALL-empty run must return [] so the
    caller's typed-empty fallback fires."""
    from cybersecurity_ioc_etl_spark.streaming.drain import (
        _committed_partial_dirs,
        _write_partial_bid,
    )

    out = str(tmp_path)
    # a data-file-free commit (this Spark version usually writes one
    # zero-row part file even for empty relations, so simulate the
    # zero-partition commit directly: _SUCCESS and nothing else)
    os.makedirs(os.path.join(out, "b0"))
    open(os.path.join(out, "b0", "_SUCCESS"), "w").close()
    assert _committed_partial_dirs(out) == []
    df = spark.range(3).selectExpr("id AS i", "id AS b", "id AS c")
    _write_partial_bid(df, out, 1)  # non-empty commit is kept
    assert _committed_partial_dirs(out) == [os.path.join(out, "b1")]
    # a zero-ROW part file still counts as a schema-bearing data file
    _write_partial_bid(df.filter("i < 0"), out, 2)
    assert _committed_partial_dirs(out) == [
        os.path.join(out, "b1"),
        os.path.join(out, "b2"),
    ]
    # uncommitted dir (no _SUCCESS) stays invisible
    os.makedirs(os.path.join(out, "b3"))
    assert _committed_partial_dirs(out)[-1] == os.path.join(out, "b2")
