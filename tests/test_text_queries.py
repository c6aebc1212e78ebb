"""Posting-join df-cap invariants (VERDICT r4 ask #6): the posting
self-join's pair volume equals the closed form Σ df·(df−1)/2 predicted
by the df census alone, and a cap below the stop-terms' df collapses
the quadratic before the join exists.  72ef586:tools/posting_probe.py
measured the same law as wall time at sf0.1; this pins it exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from cybersecurity_ioc_etl_spark.operators.text_queries import (
    tfidf_posting_dots,
    tokens,
)
from cybersecurity_ioc_etl_spark.sources.readers import load_table


def _census(d):
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    return tf, tf.groupBy("tok").agg(F.count("*").alias("df"))


def _instances(tf, df_t, cap):
    """Raw posting-join output rows (one per doc-pair-term) under cap."""
    posts = tf.join(
        F.broadcast(df_t.filter(F.col("df") <= cap)), "tok"
    ).select("doc_id", "tok")
    a, b = posts.alias("a"), posts.alias("b")
    return a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()


def test_df_cap_matches_census_closed_form(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf, df_t = _census(d)
    dfs = sorted(r["df"] for r in df_t.collect())
    closed = lambda cap: sum(v * (v - 1) // 2 for v in dfs if v <= cap)  # noqa: E731

    # cap at the rarest term's df: only min-df terms survive — the
    # stop-term quadratic is gone BEFORE the join
    cap_low = dfs[0]
    assert _instances(tf, df_t, cap_low) == closed(cap_low)

    # cap above every df: the full fan-out, still exactly the closed form
    cap_high = dfs[-1]
    assert _instances(tf, df_t, cap_high) == closed(cap_high)
    assert closed(cap_high) > closed(cap_low)

    # the aggregated pair frame can only merge instances, never add
    dots_low, _ = tfidf_posting_dots(d, cap_low)
    n_low = dots_low.count()
    assert n_low <= closed(cap_low)
    surviving = [v for v in dfs if v <= cap_low]
    if len(surviving) == 1:
        # a single surviving term ⇒ every pair shares exactly it:
        # distinct pairs == instances
        assert n_low == closed(cap_low)
