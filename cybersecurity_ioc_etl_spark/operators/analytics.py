"""Analytic breadth: GROUPING SETS, lag/lead windows, time-range joins,
and moment-based statistics (stddev / correlation) — SURVEY.md §2.4-2.6
capability categories the reference lacks ("none in reference"), provided
here as first-class engine queries with DuckDB oracles.

Float determinism follows the integer-mantissa contract documented in
relational.py: quantize once per row, aggregate exact integers, convert
each aggregate to double exactly once, then evaluate the SAME closed-form
double expression in both engines (IEEE ops are individually correctly
rounded, so an identical expression tree yields identical bits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table
from .registry import query
from .relational import ISUM, MI, isum, mi


@query(
    "grouping_sets_revenue",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {ISUM.format(x=MI.format(x='l_extendedprice'))} / 10000.0 AS sum_base_price,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over (flag, status) / (flag) / (): three aggregation
    granularities — the two keyed sets expand map-side into ONE shuffle,
    and the () set is a separate global aggregate UNION ALL'd on because
    Spark's Expand yields zero rows on EMPTY input where the standard
    (and DuckDB) still emits the grand-total row.
    (SURVEY.md §2.4: no grouping sets in reference.)"""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 10000.0) AS BIGINT) AS DECIMAL(38,0)))
       AS DOUBLE) / 10000.0 AS sum_base_price,
  COUNT(*) AS n_items
FROM gs_lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))
UNION ALL
SELECT CAST(NULL AS STRING), CAST(NULL AS STRING),
  CAST(SUM(CAST(CAST(ROUND(l_extendedprice * 10000.0) AS BIGINT) AS DECIMAL(38,0)))
       AS DOUBLE) / 10000.0,
  COUNT(*)
FROM gs_lineitem
"""
    )


@query(
    "order_gap_days",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
    lag(o_orderdate) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS prev_date
  FROM orders WHERE o_custkey < 200
)
SELECT o_custkey, o_orderkey,
  CAST(date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT)
    AS gap_days
FROM seq WHERE prev_date IS NOT NULL
""",
)
def q_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window: days between consecutive orders per customer.  One
    shuffle on o_custkey; the per-partition sort is the window's only
    cost and AQE keeps partitions balanced under customer skew.
    (SURVEY.md §2.5: no window functions in reference.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag("o_orderdate").over(w).alias("prev_date"),
        )
        .filter(F.col("prev_date").isNotNull())
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.col("prev_date"))
            .cast("bigint")
            .alias("gap_days"),
        )
    )


@query(
    "click_error_range_join",
    oracle="""
SELECT a.event_id AS click_id, b.event_id AS error_id,
  epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 10 MINUTE
WHERE a.event_type = 'click' AND b.event_type = 'error' AND a.user_id < 40
""",
)
def q_click_error_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: error events within 10 minutes after a click by
    the same user.  Equi-key (user_id) carries the shuffle; the range
    predicate is evaluated inside the joined partition, so the plan is a
    plain hash join, NOT a nested-loop — the shape that survives 100 TB
    (bound the range to keep per-key fan-out finite; at cluster scale
    add a coarse time-bucket to the key to cap skew)."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "click") & (F.col("user_id") < 40)).alias("a")
    b = ev.filter(F.col("event_type") == "error").alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.select(
        F.col("a.event_id").alias("click_id"),
        F.col("b.event_id").alias("error_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("lag_us"),
    )


# moment sums for stddev/corr: quantity quantized at 10^2, extendedprice
# at 10^0 (dollar) — keeps Σy² < 2^53 at sf0.1 so every aggregate→double
# conversion is a single rounding in both engines.
_QX = "CAST(ROUND(l_quantity * 100.0) AS BIGINT)"
_QY = "CAST(ROUND(l_extendedprice) AS BIGINT)"


@query(
    "lineitem_stats_by_flag",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    CAST(SUM({_QX}) AS DOUBLE) AS sx,
    CAST(SUM({_QY}) AS DOUBLE) AS sy,
    CAST(SUM({_QX} * {_QX}) AS DOUBLE) AS sxx,
    CAST(SUM({_QY} * {_QY}) AS DOUBLE) AS syy,
    CAST(SUM({_QX} * {_QY}) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round(sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 100.0, 6) AS stddev_qty,
  round((n * sxy - sx * sy)
        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
  round(sx / n / 100.0, 6) AS avg_qty
FROM s
""",
)
def q_lineitem_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev + Pearson correlation per return flag, computed from
    exact integer moment sums (n, Σx, Σy, Σx², Σy², Σxy) — the two-pass
    textbook formulas collapsed into one map-side-combinable pass.  This
    is how moment statistics distribute at 100 TB: the shuffle carries
    six numbers per group, never the data."""
    li = load_table(spark, sf_dir, "lineitem")
    x = mi(F.col("l_quantity"), 2)
    y = mi(F.col("l_extendedprice"), 0)
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        isum(x).alias("sx"),
        isum(y).alias("sy"),
        isum(x * x).alias("sxx"),
        isum(y * y).alias("syy"),
        isum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(var_x / (n * (n - F.lit(1.0)))) / F.lit(100.0), 6).alias(
            "stddev_qty"
        ),
        F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
        F.round(F.col("sx") / n / F.lit(100.0), 6).alias("avg_qty"),
    )


_ADP_ORACLE = """
SELECT l_returnflag,
  COUNT(*) AS n_items,
  COUNT(DISTINCT l_partkey) AS exact_parts,
  TRUE AS within_4rsd
FROM lineitem GROUP BY l_returnflag
"""


@query("approx_distinct_parts", oracle=_ADP_ORACLE)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) of parts per return flag,
    restated as a BOUND AUDIT so the sketch is hash-checkable: sketch
    estimates are engine-specific (DuckDB's HLL differs), so instead of
    emitting the raw estimate we emit the exact count (engine-identical)
    plus a boolean asserting |est − exact| ≤ max(4·rsd·exact, 2) — four
    relative standard deviations at rsd = 0.02 (P(miss) < 1e-4 for a
    well-behaved HLL, and Spark's implementation is deterministic given
    the data, so the boolean is stable).  The oracle computes the exact
    side and states TRUE for the bound: if the sketch ever drifts out of
    its guarantee the value hash mismatches and the driver flags it —
    the banding_recall_audit pattern (dedup.py) applied to a sketch.

    Scale shape: the HLL sketch is the production path (fixed-size,
    mergeable map-side, no exact-distinct re-shuffle); the exact
    count-distinct here is the CALIBRATION side, affordable because the
    audit runs on a bounded slice / schedule, not per dashboard query.
    At 100 TB you run the sketch everywhere and this audit weekly."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("est"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_items"),
    )
    bound = F.greatest(
        F.ceil(F.lit(4 * 0.02) * F.col("exact_parts")), F.lit(2)
    )
    return agg.select(
        "l_returnflag",
        "n_items",
        "exact_parts",
        (F.abs(F.col("est") - F.col("exact_parts")) <= bound).alias(
            "within_4rsd"
        ),
    )


@query(
    "salted_source_profile",
    oracle="""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""",
)
def q_salted_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation: key = (source, salt) for the
    partial, then re-aggregate by source.  On this fixture it computes
    exactly GROUP BY source (the oracle); the point is the plan shape —
    when one key owns a disproportionate share of a 100 TB input, the
    salt spreads its partial aggregation over N reducers and the second
    (tiny) shuffle merges N partials.  Spark's own map-side partial agg
    covers mild skew; explicit salting is the escape hatch for the
    pathological key, and composes with AQE skew handling."""
    d = load_table(spark, sf_dir, "documents")
    salt = (F.crc32(F.col("doc_id").cast("string")) % 8).alias("salt")
    partial = (
        d.select("source", "n_chars", salt)
        .groupBy("source", "salt")
        .agg(F.count("*").alias("pc"), F.sum("n_chars").alias("ps"))
    )
    return partial.groupBy("source").agg(
        F.sum("pc").alias("n_docs"), F.sum("ps").alias("total_chars")
    )


@query(
    "customer_spend_rank",
    oracle="""
SELECT o_custkey, total_spend,
  round(percent_rank() OVER (ORDER BY total_spend, o_custkey), 6) AS pct_rank,
  round(cume_dist() OVER (ORDER BY total_spend, o_custkey), 6) AS cume,
  ntile(10) OVER (ORDER BY total_spend, o_custkey) AS decile
FROM (
  SELECT o_custkey,
    CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
      AS total_spend
  FROM orders WHERE o_custkey < 500 GROUP BY o_custkey
)
""",
)
def q_customer_spend_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking analytics (percent_rank / cume_dist / ntile) over per-
    customer spend.  The global ORDER BY window is a single-partition
    sort — correct for ranked REPORTS (bounded output); for ranking a
    100 TB key space, switch to the two-pass quantile route
    (approx percentiles → broadcast cutpoints → map-side bucket)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    spend = o.groupBy("o_custkey").agg(
        (isum(mi(F.col("o_totalprice"), 2)) / 100.0).alias("total_spend")
    )
    w = Window.orderBy("total_spend", "o_custkey")
    return spend.select(
        "o_custkey",
        "total_spend",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@query(
    "rolling_30d_spend",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS order_day,
    {MI.format(x='o_totalprice')} AS price_mi
  FROM orders WHERE o_custkey <= 100
)
SELECT o_custkey, o_orderkey, order_day,
  CAST(COALESCE(SUM(price_mi) OVER (
    PARTITION BY o_custkey ORDER BY order_day
    RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) / 10000.0
    AS spend_prev_30d
FROM o
""",
)
def q_rolling_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (RANGE, not ROWS): each order's customer
    spend over the preceding 30 days, excluding today — the
    feature-engineering shape for recency features and velocity/fraud
    signals.

    Scale shape: the frame is defined on an integer epoch-day sort key,
    so peers (same-day orders) resolve identically in both engines and
    the frame never degenerates into per-row scans; one shuffle on
    o_custkey, exact mantissa accumulation inside the frame, and the
    empty-frame NULL coalesces to 0 rather than leaking."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    o = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("order_day"),
        mi(F.col("o_totalprice")).alias("price_mi"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("order_day")
        .rangeBetween(-30, -1)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "order_day",
        (
            F.coalesce(
                F.sum(F.col("price_mi").cast("decimal(38,0)")).over(w), F.lit(0)
            ).cast("double")
            / 1e4
        ).alias("spend_prev_30d"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — deterministic, hash-checked
# ---------------------------------------------------------------------------

_KMV_K = 64

_KMV_SKETCH_SQL = """
tok AS (
  SELECT source, unnest(str_split_regex({fold}, '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
dh AS (SELECT DISTINCT source, {hint} AS h FROM tok),
rk AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM dh
),
sk AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS kth_hash
  FROM rk WHERE rn <= {k} GROUP BY 1
),
est AS (
  SELECT source, k_used, kth_hash,
    CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
         ELSE {km1}.0 * 4294967296.0 / CAST(kth_hash AS DOUBLE)
    END AS est_distinct
  FROM sk
)
"""


def _kmv_sketch_sql() -> str:
    from . import dedup as _dedup

    return _KMV_SKETCH_SQL.format(
        fold=_dedup._ASCII_FOLD_SQL.format(x="trim(text)"),
        hint=_dedup._SHINGLE_INT_SQL.format(x="tok"),
        k=_KMV_K,
        km1=_KMV_K - 1,
    )


_KMV_AUDIT_ORACLE = (
    "WITH "
    + _kmv_sketch_sql()
    + """,
ex AS (SELECT source, COUNT(*) AS exact_distinct FROM dh GROUP BY 1)
SELECT est.source, est.k_used, est.kth_hash, est.est_distinct,
  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
  abs(est.est_distinct - CAST(ex.exact_distinct AS DOUBLE))
    / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
FROM est JOIN ex USING (source)
"""
)


def kmv_token_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (source, h) token-hash universe of a document batch —
    md5-prefix ints, the engine's portable-hash discipline, so DuckDB
    rebuilds the identical sketch."""
    from . import dedup as _dedup

    tok = docs.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source",
        F.explode(
            F.split(_dedup.ascii_fold(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    return tok.select(
        "source", _dedup._shingle_int(F.col("tok")).alias("h")
    ).distinct()


def kmv_bottom_k(dh: DataFrame) -> DataFrame:
    """Per-source bottom-k (k = ``_KMV_K``) of the distinct hash
    universe — THE KMV sketch.  Mergeable: the union of per-batch
    bottom-k sets contains the global bottom-k, so re-ranking a union of
    partials yields the identical sketch (exercised by
    stream_kmv_merge)."""
    w = Window.partitionBy("source").orderBy("h")
    return (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )


def kmv_estimate(sk: DataFrame) -> DataFrame:
    """(source, k_used, kth_hash, est_distinct) from a bottom-k frame
    (k = ``_KMV_K``):
    est = (k−1)·2³² / kth for a full sketch, the exact seen-count when
    fewer than k distinct values exist.  One double division per group
    from exact integers — bit-identical cross-engine."""
    agg = sk.groupBy("source").agg(
        F.count("*").cast("bigint").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    return agg.select(
        "source",
        "k_used",
        "kth_hash",
        F.when(
            F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
        )
        .otherwise(
            F.lit(float(_KMV_K - 1))
            * F.lit(4294967296.0)
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


@query("kmv_distinct_audit", oracle=_KMV_AUDIT_ORACLE)
def q_kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (Bar-Yossef et al. 2002) of the
    per-source token vocabulary, audited against the exact distinct
    count — and, like countmin_token_audit, the sketch itself is
    HASH-CHECKED: the k minimum values of a deterministic md5-prefix
    hash are a pure function of the data, so DuckDB rebuilds the
    bit-identical sketch and the ESTIMATE (not just a bound boolean)
    must match.  est = (k−1)·2³²/kth_hash; when a source has fewer
    than k distinct tokens the sketch IS the exact set.

    Scale shape: per-source state is k=64 integers — the sketch side
    is a distinct-project (map-side combined) plus a per-group
    bottom-k window; the exact side is the audit's calibration,
    affordable because the grouping is low-cardinality.  KMV beats
    HLL where you also need the SAMPLE of distinct values (the k
    hashes double as a uniform sample of the universe) and mergeability
    under set-union — see stream_kmv_merge for the merge receipt."""
    from ..sources.readers import load_table as _lt

    d = _lt(spark, sf_dir, "documents", fan_out=True)
    dh = kmv_token_hashes(d)
    est = kmv_estimate(kmv_bottom_k(dh))
    ex = dh.groupBy("source").agg(F.count("*").alias("exact_distinct"))
    return est.join(F.broadcast(ex), "source").select(
        "source",
        "k_used",
        "kth_hash",
        "est_distinct",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            F.abs(
                F.col("est_distinct") - F.col("exact_distinct").cast("double")
            )
            / F.col("exact_distinct").cast("double")
        ).alias("rel_err"),
    )


_KMV_STREAM_ORACLE = (
    "WITH "
    + _kmv_sketch_sql()
    + """
SELECT source, k_used, kth_hash, est_distinct FROM est
"""
)


@query("stream_kmv_merge", oracle=_KMV_STREAM_ORACLE)
def q_stream_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV — set-union mergeability exercised for real: each
    micro-batch writes its own per-source bottom-k partial (bid-keyed
    overwrite, replay-safe), and the fold re-ranks the UNION of
    partials — which contains the global bottom-k by the KMV merge
    law — so the merged sketch and its estimate are bit-identical to
    the batch build however the stream was split.  Same oracle as the
    batch sketch (minus the exact-side audit columns).

    Scale shape: per trigger a distinct-project bounded by the batch's
    vocabulary plus a k-row-per-source window; the fold touches
    (batches × sources × k) partial rows, never the corpus."""
    from ..streaming.pipeline import run_stream_kmv

    return run_stream_kmv(spark, sf_dir)


# ---------------------------------------------------------------------------
# RFM customer segmentation — quartile scoring on three behavioral axes
# ---------------------------------------------------------------------------

_RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    MAX(o_orderdate) AS last_order,
    COUNT(*) AS freq,
    CAST(SUM({MI.format(x='o_totalprice')}) AS BIGINT) AS mon_i
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, mon_i,
    ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
    ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
    ntile(4) OVER (ORDER BY mon_i DESC, o_custkey) AS m
  FROM per_cust
)
SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(mon_i) AS DOUBLE) / 10000.0 AS total_spend
FROM scored GROUP BY 1
"""


@query("rfm_customer_segments", oracle=_RFM_ORACLE)
def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the marketing-analytics staple: each customer scores 1 (best) to 4
    on how recently they ordered, how often, and how much, and the
    3-digit segment code rolls the base up into the champions /
    at-risk / hibernating buckets.  Quartiles are ntile over total
    orders (ties broken by custkey so both engines agree); monetary is
    the exact mantissa sum.

    Scale shape: one per-customer aggregation, then three rank windows
    over the CUSTOMER-grain frame (already 1/|orders-per-customer| of
    the data).  The global ntile is the audit-exact form; at 100 TB the
    same scores come from approx-quantile cutoffs broadcast as a 3×3
    boundary table (the value_equidepth_histogram lever) so no global
    sort is needed — segment semantics are unchanged."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(mi(F.col("o_totalprice"))).cast("bigint").alias("mon_i"),
    )
    scored = per_cust.select(
        "mon_i",
        F.ntile(4)
        .over(Window.orderBy(F.col("last_order").desc(), "o_custkey"))
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy(F.col("freq").desc(), "o_custkey"))
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy(F.col("mon_i").desc(), "o_custkey"))
        .alias("m"),
    )
    return (
        scored.select(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("bigint")
            .alias("rfm_segment"),
            "mon_i",
        )
        .groupBy("rfm_segment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            (F.sum("mon_i").cast("double") / F.lit(1e4)).alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Revenue concentration — Gini coefficient + top-share from exact ranks
# ---------------------------------------------------------------------------

_GINI_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(SUM({MI.format(x='o_totalprice')}) AS BIGINT) AS xi
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT xi, row_number() OVER (ORDER BY xi, o_custkey) AS i,
    COUNT(*) OVER () AS n
  FROM per_cust
),
agg AS (
  SELECT MAX(n) AS n,
    CAST(SUM(xi) AS BIGINT) AS s1,
    CAST(SUM(CAST(i AS BIGINT) * xi) AS DOUBLE) AS s2d,
    CAST(SUM(CASE WHEN i > n - n // 10 THEN xi ELSE 0 END) AS BIGINT)
      AS top10_i,
    CAST(SUM(CASE WHEN i > n - n // 100 THEN xi ELSE 0 END) AS BIGINT)
      AS top1_i
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
  CAST(s1 AS DOUBLE) / 10000.0 AS total_revenue,
  2.0 * s2d / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE))
    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini,
  CAST(top10_i AS DOUBLE) / CAST(s1 AS DOUBLE) AS top10pct_share,
  CAST(top1_i AS DOUBLE) / CAST(s1 AS DOUBLE) AS top1pct_share
FROM agg
"""


@query("revenue_gini_concentration", oracle=_GINI_ORACLE)
def q_revenue_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration audit: the Gini coefficient of customer
    spend plus top-10%/top-1% revenue shares — the inequality metrics
    behind whale-risk analysis, and for a training corpus the same
    math measures source/domain concentration.  Gini uses the exact
    rank identity G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n: ranks are integer
    row_numbers (custkey tie-break), Σi·xᵢ accumulates in DECIMAL(38,0)
    (exact beyond int64) and converts to double ONCE — the single
    permitted rounding — so both engines emit the bit-identical
    coefficient.  Top-k shares are pure integer sums over rank
    thresholds.

    Scale shape: one per-customer aggregation, one rank ordering over
    the customer-grain frame, one scalar row out.  The global rank is
    the audit-exact form; the production path at 100 TB substitutes the
    range-partitioned rank (value_equidepth_histogram's lever)."""
    from .relational import isum

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(mi(F.col("o_totalprice"))).cast("bigint").alias("xi")
    )
    ranked = per_cust.select(
        "xi",
        F.row_number().over(Window.orderBy("xi", "o_custkey")).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    agg = ranked.agg(
        F.max("n").alias("n"),
        F.sum("xi").cast("bigint").alias("s1"),
        isum(F.col("i").cast("bigint") * F.col("xi")).alias("s2d"),
        F.sum(
            F.when(F.col("i") > F.col("n") - F.expr("n div 10"), F.col("xi"))
            .otherwise(0)
        ).cast("bigint").alias("top10_i"),
        F.sum(
            F.when(F.col("i") > F.col("n") - F.expr("n div 100"), F.col("xi"))
            .otherwise(0)
        ).cast("bigint").alias("top1_i"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (s1d / F.lit(1e4)).alias("total_revenue"),
        (
            F.lit(2.0) * F.col("s2d") / (nd * s1d)
            - (nd + F.lit(1.0)) / nd
        ).alias("gini"),
        (F.col("top10_i").cast("double") / s1d).alias("top10pct_share"),
        (F.col("top1_i").cast("double") / s1d).alias("top1pct_share"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog registers — deterministic, hash-checked, max-mergeable
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (low 6 hash bits)
_HLL_W = 26  # rank field width: h < 2^32, minus the 6 index bits

# rank = leading zeros of the 26-bit field + 1 = W - bitlen(rest) + 1,
# with rest = 0 ranking W + 1.  length(bin(x)) is the exact integer
# bitlen in BOTH engines (no leading zeros) — no pow/log anywhere.
_HLL_CHAIN_SQL = f"""
rg AS (
  SELECT source, CAST(h % {_HLL_M} AS BIGINT) AS idx,
    MAX(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
        ELSE {_HLL_W} - length(bin(CAST(h // {_HLL_M} AS BIGINT))) + 1
        END) AS r
  FROM dh GROUP BY 1, 2
),
rr AS (
  SELECT source, idx, r, MAX(r) OVER (PARTITION BY source) AS rmax FROM rg
),
ag AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS m_occupied,
    CAST(MAX(rmax) AS BIGINT) AS r_max,
    CAST(SUM(CAST(1 AS BIGINT) << CAST(rmax - r AS INTEGER))
         + ({_HLL_M} - COUNT(*))
           * MAX(CAST(1 AS BIGINT) << CAST(rmax AS INTEGER))
         AS BIGINT) AS s_scaled
  FROM rr GROUP BY 1
),
he AS (
  SELECT source, m_occupied, r_max, s_scaled,
    0.7213 / (1.0 + 1.079 / {_HLL_M}.0) * {_HLL_M * _HLL_M}.0
      * CAST((CAST(1 AS BIGINT) << CAST(r_max AS INTEGER)) AS DOUBLE)
      / CAST(s_scaled AS DOUBLE) AS est_distinct
  FROM ag
)
"""


def _hll_sketch_sql() -> str:
    """tok + dh CTEs from the KMV chain (same portable hash) + the HLL
    register/estimate chain."""
    head = _kmv_sketch_sql().split("rk AS (")[0].rstrip().rstrip(",")
    return head + "," + _HLL_CHAIN_SQL


def hll_batch_registers(docs: DataFrame) -> DataFrame:
    """(source, idx, r) occupied HLL registers of a document batch —
    register index is the low 6 bits of the md5-prefix token hash,
    rank the 1-based leading-zero position in the remaining 26-bit
    field (exact via length(bin(x)), no pow/log).  Mergeable by MAX."""
    dh = kmv_token_hashes(docs)
    rest = F.expr(f"h div {_HLL_M}")
    rank = F.when(rest == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W) - F.length(F.bin(rest)) + F.lit(1)
    )
    return (
        dh.select(
            "source",
            (F.col("h") % _HLL_M).cast("bigint").alias("idx"),
            rank.cast("bigint").alias("rk"),
        )
        .groupBy("source", "idx")
        .agg(F.max("rk").alias("r"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """(source, m_occupied, r_max, s_scaled, est_distinct) from a
    register frame: est = α·m²·2^R / Σ_j 2^(R−r_j) with unoccupied
    registers contributing 2^R each — the harmonic mean cleared to ONE
    exact integer (s_scaled) and divided once; 2^x is shiftleft, never
    pow."""
    w = Window.partitionBy("source")
    rr = regs.withColumn("rmax", F.max("r").over(w))
    ag = rr.groupBy("source").agg(
        F.count("*").cast("bigint").alias("m_occupied"),
        F.max("rmax").cast("bigint").alias("r_max"),
        (
            F.sum(F.expr("shiftleft(1L, CAST(rmax - r AS INT))"))
            + (F.lit(_HLL_M) - F.count("*"))
            * F.max(F.expr("shiftleft(1L, CAST(rmax AS INT))"))
        )
        .cast("bigint")
        .alias("s_scaled"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(_HLL_M)))
    return ag.select(
        "source",
        "m_occupied",
        "r_max",
        "s_scaled",
        (
            alpha
            * F.lit(float(_HLL_M * _HLL_M))
            * F.expr("shiftleft(1L, CAST(r_max AS INT))").cast("double")
            / F.col("s_scaled").cast("double")
        ).alias("est_distinct"),
    )


def _hll_audit_oracle() -> str:
    return (
        "WITH "
        + _hll_sketch_sql()
        + """,
ex AS (SELECT source, COUNT(*) AS exact_distinct FROM dh GROUP BY 1)
SELECT he.source, he.m_occupied, he.r_max, he.s_scaled, he.est_distinct,
  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
  abs(he.est_distinct - CAST(ex.exact_distinct AS DOUBLE))
    / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
FROM he JOIN ex USING (source)
"""
    )


@query("hll_register_audit", oracle=_hll_audit_oracle())
def q_hll_register_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch of the per-source token
    vocabulary, audited against the exact count — the fourth
    deterministic sketch, and like count-min/KMV/Bloom the sketch
    itself is HASH-CHECKED: registers derive from the md5-prefix hash
    (index = low 6 bits, rank = leading zeros of the 26-bit remainder
    via exact bitlen — no pow, no log), so DuckDB rebuilds them
    bit-identically and the ESTIMATE must match to the last ulp.  The
    raw-HLL estimator α·m²·2^R/Σ2^(R−r) clears the harmonic mean to
    one exact integer; no small/large-range correction (documented —
    the audit's rel_err column shows exactly what raw HLL costs at
    fixture cardinalities).

    Scale shape: per-source state is m=64 small integers — strictly
    smaller than KMV's k hashes; the register census is one map-side-
    combined aggregation over the distinct-hash projection.  HLL wins
    over KMV when only the cardinality (not a sample) is needed and
    merges under register-wise MAX — see stream_hll_merge."""
    from ..sources.readers import load_table as _lt

    d = _lt(spark, sf_dir, "documents", fan_out=True)
    dh = kmv_token_hashes(d)
    est = hll_estimate(hll_batch_registers(d))
    ex = dh.groupBy("source").agg(F.count("*").alias("exact_distinct"))
    return est.join(F.broadcast(ex), "source").select(
        "source",
        "m_occupied",
        "r_max",
        "s_scaled",
        "est_distinct",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (
            F.abs(
                F.col("est_distinct") - F.col("exact_distinct").cast("double")
            )
            / F.col("exact_distinct").cast("double")
        ).alias("rel_err"),
    )


def _hll_stream_oracle() -> str:
    return (
        "WITH "
        + _hll_sketch_sql()
        + """
SELECT source, m_occupied, r_max, s_scaled, est_distinct FROM he
"""
    )


@query("stream_hll_merge", oracle=_hll_stream_oracle())
def q_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL — register-wise MAX mergeability exercised for
    real, completing the mergeable-sketch laws (count-min: +, KMV:
    set-union re-rank, Bloom: bit OR, HLL: register MAX): each
    micro-batch writes its own occupied-register partial (bid-keyed
    overwrite, replay-safe), and the fold MAX-merges the union — which
    equals the one-pass registers for ANY batching, because max is
    associative, commutative, and idempotent (the replay-safety comes
    free from idempotence; the bid-keying guards the partial files
    themselves).  Same oracle as the batch sketch minus the exact-side
    audit columns.

    Scale shape: per trigger a batch-vocabulary-bounded distinct
    projection + a ≤ m-row-per-source census; the fold touches
    (batches × sources × m) partial rows, never the corpus."""
    from ..streaming.pipeline import run_stream_hll

    return run_stream_hll(spark, sf_dir)


# ---------------------------------------------------------------------------
# KMV set algebra — sketch-based intersection estimation between sources
# ---------------------------------------------------------------------------

_KMV_INTERSECT_SQL = """
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM dh) a
  JOIN (SELECT DISTINCT source FROM dh) b ON a.source < b.source
),
skh AS (SELECT source, h FROM rk WHERE rn <= {k}),
mem AS (
  SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.sa, p.sb, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN skh s ON s.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, s.h, 0, 1
    FROM pairs p JOIN skh s ON s.source = p.sb
  ) GROUP BY 1, 2, 3
),
urk AS (
  SELECT sa, sb, h, in_a, in_b,
    row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
  FROM mem
),
usk AS (
  SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS kth,
    CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM urk WHERE rn <= {k} GROUP BY 1, 2
),
uest AS (
  SELECT sa, sb, k_used, n_both,
    CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
         ELSE {km1}.0 * 4294967296.0 / CAST(kth AS DOUBLE)
    END AS est_union
  FROM usk
),
exact AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS exact_inter
  FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT u.sa AS src_a, u.sb AS src_b, u.k_used, u.n_both,
  CAST(u.n_both AS DOUBLE) * u.est_union / CAST(u.k_used AS DOUBLE)
    AS est_intersection,
  CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_intersection
FROM uest u LEFT JOIN exact e ON u.sa = e.sa AND u.sb = e.sb
"""


def _kmv_intersect_oracle() -> str:
    return (
        "WITH "
        + _kmv_sketch_sql()
        + ","
        + _KMV_INTERSECT_SQL.format(k=_KMV_K, km1=_KMV_K - 1)
    )


@query("kmv_intersect_audit", oracle=_kmv_intersect_oracle())
def q_kmv_intersect_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET ALGEBRA — the sketch-intersection estimator that answers
    "how much vocabulary do two sources share?" without comparing the
    sets: per source pair, merge the two bottom-k sketches into the
    union sketch (set-union re-rank, the stream_kmv_merge law), count
    its members present in BOTH input sketches (n_both), and estimate
    |A∩B| ≈ (n_both / k) · est(|A∪B|) — the Beyer et al. 2007
    inclusion-fraction estimator.  Audited against the exact
    intersection distinct; like every sketch here the estimator is
    built from deterministic md5-prefix hashes, so the ESTIMATE itself
    is hash-checked cross-engine (when the union sketch holds the whole
    union, the algebra degenerates to the exact intersection — the
    fixture's small sources exercise that branch too).

    Scale shape: per-pair state is 2k integers; the pair enumeration is
    over SOURCES (tiny), never data; the exact side is the audit's
    calibration.  This completes the KMV story: distinct estimate
    (kmv_distinct_audit) + union merge (stream_kmv_merge) +
    intersection (here) = the full set algebra a contamination or
    overlap monitor needs at 100 TB."""
    from ..sources.readers import load_table as _lt

    d = _lt(spark, sf_dir, "documents", fan_out=True)
    dh = kmv_token_hashes(d).localCheckpoint(eager=True)
    sk = kmv_bottom_k(dh)
    srcs = dh.select("source").distinct()
    pairs = (
        srcs.alias("pa")
        .join(
            srcs.alias("pb"),
            F.col("pa.source") < F.col("pb.source"),
        )
        .select(
            F.col("pa.source").alias("sa"), F.col("pb.source").alias("sb")
        )
    )
    mem = (
        pairs.join(
            sk.select(F.col("source").alias("s1"), "h"),
            F.col("sa") == F.col("s1"),
        )
        .select("sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(
                sk.select(F.col("source").alias("s2"), "h"),
                F.col("sb") == F.col("s2"),
            ).select(
                "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("sa", "sb").orderBy("h")
    usk = (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.count("*").cast("bigint").alias("k_used"),
            F.max("h").alias("kth"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        )
    )
    est_union = F.when(
        F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(4294967296.0)
        / F.col("kth").cast("double")
    )
    a, b = dh.alias("ea"), dh.alias("eb")
    exact = (
        a.join(
            b,
            (F.col("ea.h") == F.col("eb.h"))
            & (F.col("ea.source") < F.col("eb.source")),
        )
        .groupBy(
            F.col("ea.source").alias("xa"), F.col("eb.source").alias("xb")
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        usk.join(
            F.broadcast(exact),
            (F.col("sa") == F.col("xa")) & (F.col("sb") == F.col("xb")),
            "left",
        )
        .select(
            F.col("sa").alias("src_a"),
            F.col("sb").alias("src_b"),
            "k_used",
            "n_both",
            (
                F.col("n_both").cast("double")
                * est_union
                / F.col("k_used").cast("double")
            ).alias("est_intersection"),
            F.coalesce(F.col("exact_inter"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
    )
