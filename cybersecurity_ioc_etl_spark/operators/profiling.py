"""Data profiling & constraint auditing — the quality gates a pipeline
runs before trusting a table (the Deequ/expectations family, as plain
declarative plans).

Both queries are single-pass: the column profile computes every
column's metrics in ONE aggregation (no per-column scans), and the
integrity audit folds uniqueness, nullability, and referential checks
into one job whose only shuffles carry keys, not payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table
from .registry import query
from .relational import MI, mi


@query(
    "orders_column_profile",
    oracle=f"""
SELECT 'o_custkey' AS col,
  COUNT(*) AS n_rows,
  COUNT(*) - COUNT(o_custkey) AS n_nulls,
  COUNT(DISTINCT o_custkey) AS n_distinct,
  CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
  CAST(MAX(o_custkey) AS DOUBLE) AS max_v
FROM orders
UNION ALL
SELECT 'o_totalprice',
  COUNT(*),
  COUNT(*) - COUNT(o_totalprice),
  COUNT(DISTINCT {MI.format(x='o_totalprice')}),
  CAST(MIN({MI.format(x='o_totalprice')}) AS DOUBLE) / 10000.0,
  CAST(MAX({MI.format(x='o_totalprice')}) AS DOUBLE) / 10000.0
FROM orders
UNION ALL
SELECT 'o_orderstatus',
  COUNT(*),
  COUNT(*) - COUNT(o_orderstatus),
  COUNT(DISTINCT o_orderstatus),
  CAST(NULL AS DOUBLE),
  CAST(NULL AS DOUBLE)
FROM orders
""",
)
def q_orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile in long format: rows/nulls/distincts/range per
    profiled column, computed in ONE pass over the table (a single
    aggregate producing every metric, then unpivoted) — profiling at
    100 TB cannot afford a scan per column.  Doubles go through the
    mantissa quantization so min/max compare bit-identically."""
    o = load_table(spark, sf_dir, "orders")
    pi = mi(F.col("o_totalprice"))
    row = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("ck_nulls"),
        F.count_distinct("o_custkey").alias("ck_distinct"),
        F.min("o_custkey").cast("double").alias("ck_min"),
        F.max("o_custkey").cast("double").alias("ck_max"),
        (F.count("*") - F.count("o_totalprice")).alias("tp_nulls"),
        F.count_distinct(pi).alias("tp_distinct"),
        (F.min(pi).cast("double") / F.lit(1e4)).alias("tp_min"),
        (F.max(pi).cast("double") / F.lit(1e4)).alias("tp_max"),
        (F.count("*") - F.count("o_orderstatus")).alias("st_nulls"),
        F.count_distinct("o_orderstatus").alias("st_distinct"),
    )
    null_d = F.lit(None).cast("double")
    cols = [
        ("o_custkey", "ck_nulls", "ck_distinct", F.col("ck_min"), F.col("ck_max")),
        ("o_totalprice", "tp_nulls", "tp_distinct", F.col("tp_min"), F.col("tp_max")),
        ("o_orderstatus", "st_nulls", "st_distinct", null_d, null_d),
    ]
    parts = [
        row.select(
            F.lit(name).alias("col"),
            F.col("n_rows"),
            F.col(nulls).alias("n_nulls"),
            F.col(dist).alias("n_distinct"),
            mn.alias("min_v"),
            mx.alias("max_v"),
        )
        for name, nulls, dist, mn, mx in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "lineitem_integrity_audit",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE o.o_orderkey IS NULL) AS orphan_lines,
  (SELECT COUNT(*) FROM (
     SELECT l_orderkey, l_linenumber FROM lineitem
     GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)) AS dup_line_keys,
  (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL OR l_quantity <= 0)
    AS bad_quantities,
  (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS null_shipdates
""",
)
def q_lineitem_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit as one row: referential integrity (orphan
    lineitems via broadcast-anti against order keys), key uniqueness
    (duplicate (orderkey, linenumber) pairs), and domain checks (null /
    non-positive quantity, null shipdate).  The anti-join ships only the
    distinct orderkey column; the uniqueness check is a keys-only
    aggregation — at 100 TB nothing here ever shuffles a payload
    column."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    # each check is a 1-row aggregate; the final cross joins are 1x1x1
    # (broadcast, free) — the whole audit is ONE lazy plan, no driver
    # materialization
    orphans = (
        l.select("l_orderkey")
        .join(F.broadcast(o), l["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("orphan_lines"))
    )
    dups = (
        l.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("dup_line_keys"))
    )
    # coalesce: SUM over an EMPTY table is NULL in Spark while the
    # oracle's COUNT is 0 — an empty slice has zero bad rows, not NULL
    domain = l.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("bad_quantities"),
        F.coalesce(
            F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("null_shipdates"),
    )
    return orphans.crossJoin(F.broadcast(dups)).crossJoin(F.broadcast(domain))


# ---------------------------------------------------------------------------
# Profile drift — two-era column statistics diff (data-quality monitoring)
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "1995-01-01"

_DRIFT_COLS_SQL = []
for _c, _expr in (
    ("o_custkey", "o_custkey"),
    ("o_totalprice", MI.format(x="o_totalprice")),
    ("o_orderpriority", "o_orderpriority"),
):
    _DRIFT_COLS_SQL.append(f"""
SELECT '{_c}' AS col,
  CAST(COUNT(*) FILTER (WHERE era = 'a') AS BIGINT) AS n_a,
  CAST(COUNT(*) FILTER (WHERE era = 'b') AS BIGINT) AS n_b,
  CAST(COUNT(*) FILTER (WHERE era = 'a' AND {_expr} IS NULL)
       AS BIGINT) AS nulls_a,
  CAST(COUNT(*) FILTER (WHERE era = 'b' AND {_expr} IS NULL)
       AS BIGINT) AS nulls_b,
  CAST(COUNT(DISTINCT CASE WHEN era = 'a' THEN {_expr} END)
       AS BIGINT) AS distinct_a,
  CAST(COUNT(DISTINCT CASE WHEN era = 'b' THEN {_expr} END)
       AS BIGINT) AS distinct_b
FROM eras""")

_DRIFT_ORACLE = f"""
WITH eras AS (
  SELECT *, CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}'
                 THEN 'a' ELSE 'b' END AS era
  FROM orders WHERE o_orderdate IS NOT NULL
),
long AS ({" UNION ALL ".join(_DRIFT_COLS_SQL)})
SELECT col, n_a, n_b, nulls_a, nulls_b, distinct_a, distinct_b,
  CAST(nulls_b AS DOUBLE) / CAST(NULLIF(n_b, 0) AS DOUBLE)
    - CAST(nulls_a AS DOUBLE) / CAST(NULLIF(n_a, 0) AS DOUBLE)
    AS null_rate_delta,
  CAST(distinct_b AS DOUBLE) / CAST(NULLIF(distinct_a, 0) AS DOUBLE)
    AS distinct_ratio
FROM long
"""


@query("orders_profile_drift", oracle=_DRIFT_ORACLE)
def q_orders_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema/statistics DRIFT between two eras of the same table — the
    data-quality monitor that catches a broken upstream before it
    poisons training: per column, null counts and distinct cardinality
    in era A (before the split date) vs era B, with the null-rate delta
    and distinct-cardinality ratio as the alerting signals.  Computed
    like orders_column_profile: ONE pass with conditional aggregates
    (era is a CASE tag, never a second scan), unpivoted to long form.

    Scale shape: a single aggregation producing every (column × era)
    metric — profiling at 100 TB cannot afford a scan per column or per
    era; the COUNT(DISTINCT CASE ...) pairs expand to a two-round
    shuffle carrying keys only.  In production the split is
    yesterday/today partitions and the output feeds the freshness
    dashboard."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    era = F.when(
        F.col("o_orderdate") < F.lit(_DRIFT_SPLIT).cast("timestamp"), "a"
    ).otherwise("b")
    eras = o.withColumn("era", era)
    pi = mi(F.col("o_totalprice"))
    cols = [
        ("o_custkey", F.col("o_custkey")),
        ("o_totalprice", pi),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    parts = []
    for name, expr in cols:
        parts.append(
            eras.agg(
                F.count(F.when(F.col("era") == "a", 1))
                .cast("bigint")
                .alias("n_a"),
                F.count(F.when(F.col("era") == "b", 1))
                .cast("bigint")
                .alias("n_b"),
                F.count(
                    F.when((F.col("era") == "a") & expr.isNull(), 1)
                ).cast("bigint").alias("nulls_a"),
                F.count(
                    F.when((F.col("era") == "b") & expr.isNull(), 1)
                ).cast("bigint").alias("nulls_b"),
                F.count_distinct(F.when(F.col("era") == "a", expr))
                .cast("bigint")
                .alias("distinct_a"),
                F.count_distinct(F.when(F.col("era") == "b", expr))
                .cast("bigint")
                .alias("distinct_b"),
            ).select(F.lit(name).alias("col"), "*")
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionByName(pdf)
    return out.select(
        "col",
        "n_a",
        "n_b",
        "nulls_a",
        "nulls_b",
        "distinct_a",
        "distinct_b",
        (
            F.col("nulls_b").cast("double")
            / F.nullif(F.col("n_b"), F.lit(0)).cast("double")
            - F.col("nulls_a").cast("double")
            / F.nullif(F.col("n_a"), F.lit(0)).cast("double")
        ).alias("null_rate_delta"),
        (
            F.col("distinct_b").cast("double")
            / F.nullif(F.col("distinct_a"), F.lit(0)).cast("double")
        ).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — quasi-identifier group-size census (privacy gate)
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH qi AS (
  SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hr, COUNT(*) AS k
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2, 3
),
classed AS (
  SELECT CASE WHEN k = 1 THEN '1'
              WHEN k < 5 THEN '2-4'
              WHEN k < 10 THEN '5-9'
              ELSE '10+' END AS k_class,
    CASE WHEN k < 5 THEN k ELSE 0 END AS suppressed,
    k
  FROM qi
)
SELECT k_class,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(k) AS BIGINT) AS n_rows,
  CAST(SUM(suppressed) AS BIGINT) AS rows_suppressed_at_k5
FROM classed GROUP BY 1
"""


@query("k_anonymity_audit", oracle=_KANON_ORACLE)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (event_type, weekday, hour)
    quasi-identifier: the privacy gate run before releasing or training
    on behavioral data — groups smaller than k are re-identification
    risks, and the suppressed-rows column is the exact utility cost of
    enforcing k = 5 by suppression.  One census aggregation (map-side
    combined), then a 4-row class rollup; the QI choice is a projection
    and swaps freely (the operator is the census, not the schema).
    Spark's 1-based dayofweek is aligned to DuckDB's 0-based convention
    upstream of the class grouping — the dow value itself never leaves
    the census, so no alignment column is emitted.

    Scale shape: state is one counter per occupied QI cell; at 100 TB
    with high-cardinality QIs the same census becomes the sketch-backed
    variant (count-min over QI hashes) — the exact form here is the
    calibration, exactly like countmin_token_audit's split."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    qi = e.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(F.count("*").alias("k"))
    classed = qi.select(
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") < 5, "2-4")
        .when(F.col("k") < 10, "5-9")
        .otherwise("10+")
        .alias("k_class"),
        F.when(F.col("k") < 5, F.col("k")).otherwise(0).alias("suppressed"),
        "k",
    )
    return classed.groupBy("k_class").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.sum("suppressed").cast("bigint").alias("rows_suppressed_at_k5"),
    )


_LDIV_ORACLE = """
WITH qi AS (
  SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hr,
    COUNT(*) AS k, COUNT(DISTINCT user_id) AS l
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT CASE WHEN l <= 1 THEN '<=1' WHEN l < 5 THEN '2-4' ELSE '5+' END
    AS l_class,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(k) AS BIGINT) AS n_rows,
  CAST(MIN(l) AS BIGINT) AS min_l
FROM qi GROUP BY 1
"""


@query("l_diversity_audit", oracle=_LDIV_ORACLE)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary companion: a QI
    group can be large (k-anonymous) yet expose its members anyway if
    the SENSITIVE attribute (here user_id as the stand-in) takes ≤ 1
    distinct value inside it.  Per (type, weekday, hour) group, count
    rows AND distinct sensitive values, then roll up by diversity
    class; '<=1' groups are the disclosure risks k-anonymity alone
    misses.  COUNT(DISTINCT user_id) ignores NULLs identically in both
    engines (the aging-table lesson).

    Scale shape: one census carrying (k, l) per occupied QI cell — the
    distinct-count expands to the standard two-round key-only shuffle;
    the class rollup touches cells, not rows."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    qi = e.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.count("*").alias("k"),
        F.count_distinct("user_id").alias("l"),
    )
    return qi.select(
        F.when(F.col("l") <= 1, "<=1")
        .when(F.col("l") < 5, "2-4")
        .otherwise("5+")
        .alias("l_class"),
        "k",
        "l",
    ).groupBy("l_class").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("min_l"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit — EMD between per-group and global sensitive dists
# ---------------------------------------------------------------------------

_TCLOSE_ORACLE = """
WITH base AS (
  SELECT dayofweek(ts) AS dow, hour(ts) AS hr, event_type
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
gtotal AS (
  SELECT event_type, COUNT(*) AS ki FROM base GROUP BY 1
),
gcum AS (
  SELECT event_type,
    SUM(ki) OVER (ORDER BY event_type
                  ROWS UNBOUNDED PRECEDING) AS kcum_g,
    SUM(ki) OVER () AS ktot_g,
    COUNT(*) OVER () AS m
  FROM gtotal
),
cell AS (
  SELECT dow, hr, event_type, COUNT(*) AS ki FROM base GROUP BY 1, 2, 3
),
grid AS (
  SELECT g.dow, g.hr, t.event_type, t.kcum_g, t.ktot_g, t.m,
    COALESCE(c.ki, 0) AS ki
  FROM (SELECT DISTINCT dow, hr FROM base) g
  CROSS JOIN gcum t
  LEFT JOIN cell c
    ON c.dow = g.dow AND c.hr = g.hr AND c.event_type = t.event_type
),
cum AS (
  SELECT dow, hr, kcum_g, ktot_g, m,
    SUM(ki) OVER (PARTITION BY dow, hr ORDER BY event_type
                  ROWS UNBOUNDED PRECEDING) AS kcum,
    SUM(ki) OVER (PARTITION BY dow, hr) AS k
  FROM grid
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
  CAST(MAX(k) AS BIGINT) AS k_rows,
  CAST(SUM(ABS(kcum * ktot_g - kcum_g * k)) AS DOUBLE)
    / CAST(MAX(k) * MAX(ktot_g) * (MAX(m) - 1) AS DOUBLE) AS t_value
FROM cum GROUP BY 1, 2
"""


@query("t_closeness_audit", oracle=_TCLOSE_ORACLE)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third privacy gate after k-anonymity and
    l-diversity: a QI group can be large AND diverse yet still leak if
    its sensitive-attribute DISTRIBUTION diverges from the table-wide
    one.  Per (weekday, hour) QI group, the Earth Mover's Distance
    between the group's event_type distribution and the global one over
    the lexicographic category order: EMD = Σ|cumdiff| / (m-1).
    Determinism contract: the cumulative differences are kept as the
    exact integer numerator Σ|kcum·K − Kcum·k| (cross-multiplied to
    clear both denominators) and divided ONCE by the exact integer
    k·K·(m−1) — one correctly-rounded IEEE division both sides, no
    float sums.  Spark's 1-based dayofweek is aligned to DuckDB's
    0-based convention in the emitted column.

    Scale shape: one census per occupied (QI, category) cell plus a
    category-grid completion against a broadcast m-row global table;
    the cumulative windows ride a single shuffle on the QI key.  Cells,
    not rows, flow through every stage after the first census."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hr"),
            "event_type",
        )
    )
    glob = e.groupBy("event_type").agg(F.count("*").alias("ki"))
    wg = Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    gcum = glob.select(
        "event_type",
        F.sum("ki").over(wg).alias("kcum_g"),
        F.sum("ki").over(wall).alias("ktot_g"),
        F.count("*").over(wall).alias("m"),
    )
    cell = e.groupBy("dow", "hr", "event_type").agg(F.count("*").alias("ki"))
    grid = (
        e.select("dow", "hr")
        .distinct()
        .crossJoin(F.broadcast(gcum))
        .join(cell, ["dow", "hr", "event_type"], "left")
        .withColumn("ki", F.coalesce("ki", F.lit(0)))
    )
    wq = Window.partitionBy("dow", "hr").orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wk = Window.partitionBy("dow", "hr")
    cum = grid.select(
        "dow", "hr", "kcum_g", "ktot_g", "m",
        F.sum("ki").over(wq).alias("kcum"),
        F.sum("ki").over(wk).alias("k"),
    )
    return cum.groupBy(
        F.col("dow").cast("bigint").alias("dow"),
        F.col("hr").cast("bigint").alias("hr"),
    ).agg(
        F.max("k").cast("bigint").alias("k_rows"),
        (
            F.sum(
                F.abs(
                    F.col("kcum") * F.col("ktot_g")
                    - F.col("kcum_g") * F.col("k")
                )
            ).cast("double")
            / (F.max("k") * F.max("ktot_g") * (F.max("m") - 1)).cast("double")
        ).alias("t_value"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — fraud/synthetic-data detector on prices
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 10000.0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
c AS (
  SELECT digit, COUNT(*) AS n_obs, SUM(COUNT(*)) OVER () AS n_total
  FROM d GROUP BY 1
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
  CAST(n_total AS BIGINT) AS n_total,
  CAST(FLOOR(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e9)
       AS BIGINT) AS p_exp_q,
  (CAST(n_obs * 1000000000 - n_total
        * CAST(FLOOR(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e9)
               AS BIGINT) AS DOUBLE) / 1e9)
  * (CAST(n_obs * 1000000000 - n_total
        * CAST(FLOOR(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e9)
               AS BIGINT) AS DOUBLE) / 1e9)
  / (CAST(n_total
        * CAST(FLOOR(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e9)
               AS BIGINT) AS DOUBLE) / 1e9) AS chi2_term
FROM c
"""


@query("benford_price_audit", oracle=_BENFORD_ORACLE)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order prices — the
    fabricated-data / synthetic-column detector: naturally-occurring
    amounts follow P(d) = log10(1+1/d), and a digit census that
    diverges flags generated or tampered values.  The leading digit
    comes off the exact price mantissa (the 1e4 power-of-ten shift
    preserves it); expected probabilities are quantized to integer 1e9
    mantissas through the FLOOR(ln·1e9) discipline (the entropy-sum
    lesson: never trust raw libm doubles across engines), so the
    observed-vs-expected deviation is exact-integer arithmetic and each
    digit's chi-square term is one identical closed-form double chain.
    No global float sum is emitted — the 9 per-digit terms are the
    auditable output.

    Scale shape: one map-side-combined 9-cell census plus a window
    total over 9 rows.  Nothing but the scan touches data size."""
    o = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(mi(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    c = (
        o.select(digit)
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
        .withColumn("n_total", F.sum("n_obs").over(Window.partitionBy()))
    )
    p_exp_q = F.floor(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
        / F.log(F.lit(10.0))
        * F.lit(1e9)
    ).cast("bigint")
    dev = (
        F.col("n_obs") * F.lit(1000000000) - F.col("n_total") * p_exp_q
    ).cast("double") / F.lit(1e9)
    return c.select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        F.col("n_total").cast("bigint").alias("n_total"),
        p_exp_q.alias("p_exp_q"),
        (
            dev * dev / ((F.col("n_total") * p_exp_q).cast("double") / F.lit(1e9))
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index — reference-decile distribution drift
# ---------------------------------------------------------------------------

_PSI_SPLIT = "1995-06-01"
_PSI_BINS = 10
_PSI_LQ = "CAST(FLOOR(ln(CAST({x} AS DOUBLE)) * 1000000000.0) AS BIGINT)"

_PSI_ORACLE = f"""
WITH o AS (
  SELECT {MI.format(x='o_totalprice')} AS pi,
    o_orderdate < TIMESTAMP '{_PSI_SPLIT}' AS in_a
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
na AS (SELECT COUNT(*) AS n_a FROM o WHERE in_a),
nb AS (SELECT COUNT(*) AS n_b FROM o WHERE NOT in_a),
va AS (
  SELECT pi, SUM(c) OVER (ORDER BY pi) AS cum FROM (
    SELECT pi, COUNT(*) AS c FROM o WHERE in_a GROUP BY pi)
),
edges AS (
  SELECT {", ".join(
      f"MIN(CASE WHEN cum >= ({k} * (SELECT n_a FROM na) + 9) // 10"
      f" THEN pi END) AS e{k}" for k in range(1, _PSI_BINS))}
  FROM va
),
binned AS (
  SELECT in_a,
    1 {" ".join(f"+ CASE WHEN pi > e{k} THEN 1 ELSE 0 END"
                for k in range(1, _PSI_BINS))} AS bin
  FROM o, edges
),
cells AS (
  SELECT bin,
    COUNT(*) FILTER (WHERE in_a) AS c_a,
    COUNT(*) FILTER (WHERE NOT in_a) AS c_b
  FROM binned GROUP BY bin
),
terms AS (
  SELECT bin, c_a, c_b,
    (c_b + 1) * ((SELECT n_a FROM na) + {_PSI_BINS})
      - (c_a + 1) * ((SELECT n_b FROM nb) + {_PSI_BINS}) AS dq,
    {_PSI_LQ.format(
        x=f"(c_b + 1) * ((SELECT n_a FROM na) + {_PSI_BINS})")}
      - {_PSI_LQ.format(
        x=f"(c_a + 1) * ((SELECT n_b FROM nb) + {_PSI_BINS})")} AS lrq
  FROM cells
),
denom AS (
  SELECT CAST((SELECT n_a FROM na) + {_PSI_BINS} AS DOUBLE)
       * CAST((SELECT n_b FROM nb) + {_PSI_BINS} AS DOUBLE)
       * 1000000000.0 AS dd
),
tot AS (
  SELECT CAST(SUM(CAST(dq AS HUGEINT) * lrq) AS DOUBLE)
         / (SELECT dd FROM denom) AS psi_total
  FROM terms
)
SELECT CAST(t.bin AS BIGINT) AS bin,
  CAST(t.c_a AS BIGINT) AS n_a,
  CAST(t.c_b AS BIGINT) AS n_b,
  CAST(t.dq AS DOUBLE) * CAST(t.lrq AS DOUBLE) / (SELECT dd FROM denom)
    AS psi_term,
  (SELECT psi_total FROM tot) AS psi_total,
  (SELECT psi_total FROM tot) > 0.1 AS drift_flag
FROM terms t
"""


@query("orders_psi_drift", oracle=_PSI_ORACLE)
def q_orders_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index on order prices between two eras —
    the standard score-drift monitor (banking model governance; here
    the data-quality complement of orders_profile_drift): bin edges
    are era-A price DECILES selected by exact cumulative rank on the
    integer price mantissa, both eras are binned against them, and
    PSI = Σ (p_B − p_A)·ln(p_B/p_A) with Laplace-smoothed shares
    (+1 per bin — PSI is undefined on empty cells).  Float discipline:
    each bin's log-ratio quantizes to an integer (FLOOR(ln·1e9) of
    exact-integer products, the DGA-score discipline), the share diff
    is an exact integer cross-product, the total folds their products
    in 128-bit exact arithmetic (decimal(38,0) / HUGEINT) and converts
    ONCE — so psi_term, psi_total, and the 0.1 alert flag all
    hash-match.

    Scale shape: one pass bins both eras (era is a predicate, never a
    second scan); the decile probe is a value-grain cumsum (distinct
    mantissas, range-sort territory at 100 TB — a stats job, not a
    serving path) whose 9 edges broadcast into the binning; cells are
    {bins} rows, everything downstream is scalar."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .select(
            mi(F.col("o_totalprice")).alias("pi"),
            (
                F.col("o_orderdate")
                < F.lit(_PSI_SPLIT).cast("timestamp")
            ).alias("in_a"),
        )
    )
    na = o.filter("in_a").agg(F.count("*").alias("n_a"))
    nb = o.filter("NOT in_a").agg(F.count("*").alias("n_b"))
    va = (
        o.filter("in_a")
        .groupBy("pi")
        .agg(F.count("*").alias("c"))
        .withColumn("cum", F.sum("c").over(Window.orderBy("pi")))
    )
    edges = va.crossJoin(F.broadcast(na)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({k} * n_a + 9) div 10"),
                    F.col("pi"),
                )
            ).alias(f"e{k}")
            for k in range(1, _PSI_BINS)
        ]
    )
    binv = sum(
        [
            F.when(F.col("pi") > F.col(f"e{k}"), 1).otherwise(0)
            for k in range(1, _PSI_BINS)
        ],
        F.lit(1),
    )
    cells = (
        o.crossJoin(F.broadcast(edges))
        .select("in_a", binv.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("in_a"), 1)).alias("c_a"),
            F.count(F.when(~F.col("in_a"), 1)).alias("c_b"),
        )
    )
    lq = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * F.lit(1e9)
    ).cast("bigint")
    terms = (
        cells.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "bin",
            "c_a",
            "c_b",
            (
                (F.col("c_b") + 1) * (F.col("n_a") + _PSI_BINS)
                - (F.col("c_a") + 1) * (F.col("n_b") + _PSI_BINS)
            ).alias("dq"),
            (
                lq((F.col("c_b") + 1) * (F.col("n_a") + _PSI_BINS))
                - lq((F.col("c_a") + 1) * (F.col("n_b") + _PSI_BINS))
            ).alias("lrq"),
            (
                (F.col("n_a") + _PSI_BINS).cast("double")
                * (F.col("n_b") + _PSI_BINS).cast("double")
                * F.lit(1e9)
            ).alias("dd"),
        )
        .localCheckpoint(eager=True)
    )
    tot = terms.agg(
        (
            F.sum(
                F.col("dq").cast("decimal(38,0)")
                * F.col("lrq").cast("decimal(38,0)")
            ).cast("double")
            / F.max("dd")
        ).alias("psi_total")
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("c_a").cast("bigint").alias("n_a"),
        F.col("c_b").cast("bigint").alias("n_b"),
        (
            F.col("dq").cast("double")
            * F.col("lrq").cast("double")
            / F.col("dd")
        ).alias("psi_term"),
        "psi_total",
        (F.col("psi_total") > 0.1).alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Two-sample distribution drift: exact KS + 1-D Wasserstein (EMD) —
# the nonparametric members of the drift ladder (PSI is binned+smoothed;
# KS/EMD work on the raw support, no binning choice to govern)
# ---------------------------------------------------------------------------

_KS_SPLIT_EPOCH = 1705363200  # 2024-01-16T00:00:00Z, events-month midpoint

_KS_EMD_ORACLE = f"""
WITH base AS (
  SELECT event_type, CAST(ROUND(value * 100.0) AS BIGINT) AS vi,
    epoch_us(ts) // 1000000 < {_KS_SPLIT_EPOCH} AS in_a
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
census AS (
  SELECT event_type, vi,
    CAST(COUNT(*) FILTER (WHERE in_a) AS BIGINT) AS c_a,
    CAST(COUNT(*) FILTER (WHERE NOT in_a) AS BIGINT) AS c_b
  FROM base GROUP BY 1, 2
),
enr AS (
  SELECT event_type, vi,
    SUM(c_a) OVER (PARTITION BY event_type ORDER BY vi
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
    SUM(c_b) OVER (PARTITION BY event_type ORDER BY vi
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
    SUM(c_a) OVER (PARTITION BY event_type) AS n_a,
    SUM(c_b) OVER (PARTITION BY event_type) AS n_b,
    LEAD(vi) OVER (PARTITION BY event_type ORDER BY vi) - vi AS dv
  FROM census
),
agg AS (
  SELECT event_type,
    MAX(n_a) AS n_a, MAX(n_b) AS n_b,
    CAST(COUNT(*) AS BIGINT) AS n_support,
    MAX(ABS(cum_a * n_b - cum_b * n_a)) AS ks_num,
    SUM(CAST(ABS(cum_a * n_b - cum_b * n_a) AS HUGEINT)
        * COALESCE(dv, 0)) AS emd_num
  FROM enr GROUP BY event_type
)
SELECT event_type,
  CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  n_support,
  CAST(ks_num AS BIGINT) AS ks_num,
  CAST(ks_num AS DOUBLE)
    / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0) AS ks_stat,
  CAST(emd_num AS DOUBLE)
    / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0)
    / 100.0 AS emd,
  CAST(ks_num AS DOUBLE)
    / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0.0)
    > 0.1 AS drift_flag
FROM agg
"""


@query("events_ks_emd_drift", oracle=_KS_EMD_ORACLE)
def q_events_ks_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample drift tests per event type between month halves —
    EXACT Kolmogorov-Smirnov statistic and 1-D Wasserstein-1 (earth
    mover's) distance, the nonparametric members of the drift ladder
    beside the binned PSI (orders_psi_drift) and the embedding-space
    centroid drift: KS is the max CDF gap (the alarm for SHAPE
    changes), W1 the integrated CDF gap (the magnitude of the shift,
    in value units) — together they answer "did the score
    distribution move, and by how much" with no binning choice to
    govern.

    Float discipline: both statistics are rationals over the
    (vi, type) census — CDF gaps are exact integer CROSS-PRODUCTS
    (cum_a·n_b − cum_b·n_a, the tdigest_merge_audit comparison trick),
    KS folds their MAX, W1 folds |gap|·support-gap in 128-bit exact
    arithmetic (decimal(38,0) / HUGEINT, the PSI total discipline)
    since gap×Δv terms overflow int64 at larger SFs; each statistic
    converts to double in ONE closed-form division.  The era split is
    second-grain epoch (unix_timestamp truncation = DuckDB
    epoch_us div 1e6, the events_twap pairing).

    Scale shape: one map-side-combined (type, value) census; every
    window (two cumsums, the support gap) rides ONE event_type
    shuffle of the census (state ∝ distinct values × types, never
    events); the fold is per-type scalars.  At 100 TB the census is
    the only data-scale pass — the same economics as the exact-AUC
    recipe, which shares the cross-multiply trick."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100.0).cast("bigint").alias("vi"),
            (F.unix_timestamp("ts") < _KS_SPLIT_EPOCH).alias("in_a"),
        )
    )
    census = e.groupBy("event_type", "vi").agg(
        F.count(F.when(F.col("in_a"), 1)).cast("bigint").alias("c_a"),
        F.count(F.when(~F.col("in_a"), 1)).cast("bigint").alias("c_b"),
    )
    return _ks_emd_from_census(census)


@query("stream_ks_emd_drift", oracle=_KS_EMD_ORACLE)
def q_stream_ks_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of events_ks_emd_drift — the live drift monitor:
    scored events arrive as micro-batches and fold into additive
    (type, value, era) integer COUNT partials
    (streaming/pipeline.py::_run_stream_count_fold, the conformal/BT/
    AUC discipline); the exact KS and W1 folds run at drain on the
    MERGED census, so the streamed statistics are batch-identical
    under any batching, ordering, or at-least-once replay and the
    BATCH oracle is the ground truth.

    Scale shape: per trigger one map-side-combined count bounded by
    the batch's distinct (type, value, era) triples; drain-side state
    is the census — the statistic folds never touch the stream."""
    from ..streaming.pipeline import _run_stream_count_fold

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100.0).cast("bigint").alias("vi"),
            (F.unix_timestamp("ts") < _KS_SPLIT_EPOCH).alias("in_a"),
        )
    )
    census = (
        _run_stream_count_fold(spark, e, ["event_type", "vi", "in_a"])
        .groupBy("event_type", "vi")
        .agg(
            F.sum(F.when(F.col("in_a"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("c_a"),
            F.sum(F.when(~F.col("in_a"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("c_b"),
        )
        .localCheckpoint(eager=True)
    )
    return _ks_emd_from_census(census)


def _ks_emd_from_census(census: DataFrame) -> DataFrame:
    """Exact KS + W1 folds from a (event_type, vi, c_a, c_b) census —
    shared by the batch query and its streaming twin."""
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("vi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_t = Window.partitionBy("event_type")
    w_lead = Window.partitionBy("event_type").orderBy("vi")
    enr = census.select(
        "event_type",
        "vi",
        F.sum("c_a").over(w_cum).alias("cum_a"),
        F.sum("c_b").over(w_cum).alias("cum_b"),
        F.sum("c_a").over(w_t).alias("n_a"),
        F.sum("c_b").over(w_t).alias("n_b"),
        (F.lead("vi").over(w_lead) - F.col("vi")).alias("dv"),
    )
    gap = F.abs(
        F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
    )
    agg = enr.groupBy("event_type").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.count("*").cast("bigint").alias("n_support"),
        F.max(gap).alias("ks_num"),
        F.sum(
            gap.cast("decimal(38,0)")
            * F.coalesce(F.col("dv"), F.lit(0)).cast("decimal(38,0)")
        ).alias("emd_num"),
    )
    den = F.nullif(
        F.col("n_a").cast("double") * F.col("n_b").cast("double"),
        F.lit(0.0),
    )
    ks = F.col("ks_num").cast("double") / den
    return agg.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_support",
        F.col("ks_num").cast("bigint").alias("ks_num"),
        ks.alias("ks_stat"),
        (F.col("emd_num").cast("double") / den / F.lit(100.0)).alias(
            "emd"
        ),
        (ks > 0.1).alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Differentially-private histogram release — quantized-Laplace mechanism
# with a composition ledger (the release gate after the k-anon audit)
# ---------------------------------------------------------------------------

_DP_EPS = 1.0  # per-release epsilon (sensitivity-1 count histograms)

_DP_NOISE_SQL = """
  CASE WHEN (u - 0.5) >= 0 THEN 1 ELSE -1 END
  * CAST(FLOOR(-ln(1.0 - 2.0 * ABS(u - 0.5))) AS BIGINT)
"""

_DP_ORACLE = f"""
WITH e AS (
  SELECT event_type, ts FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
rel AS (
  SELECT 'type_hist' AS release, event_type AS key,
    CAST(COUNT(*) AS BIGINT) AS n_true
  FROM e GROUP BY event_type
  UNION ALL
  SELECT 'dow_hist' AS release, CAST(dayofweek(ts) AS VARCHAR) AS key,
    CAST(COUNT(*) AS BIGINT) AS n_true
  FROM e GROUP BY dayofweek(ts)
),
noised AS (
  SELECT release, key, n_true, {_DP_NOISE_SQL.strip()} AS noise
  FROM (
    SELECT release, key, n_true,
      (CAST({{h}} AS DOUBLE) + 0.5) / 4294967296.0 AS u
    FROM rel)
)
SELECT release, key,
  CAST(n_true + noise AS BIGINT) AS n_noisy,
  CAST(noise AS BIGINT) AS noise,
  CAST({_DP_EPS} AS DOUBLE) AS eps_release,
  CAST(2.0 * {_DP_EPS} AS DOUBLE) AS eps_total
FROM noised
"""


def _dp_oracle() -> str:
    from .dedup import _SHINGLE_INT_SQL

    return _DP_ORACLE.format(
        h=_SHINGLE_INT_SQL.format(
            x="'dp:' || release || ':' || key"
        )
    )


@query("dp_event_histogram_release", oracle=_dp_oracle())
def q_dp_event_histogram_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE histogram release — the mechanism that
    actually publishes the counts the k-anonymity audit gates: two
    sensitivity-1 count histograms (per event type, per weekday) each
    released under the LAPLACE mechanism at ε = {_DP_EPS}, with the
    noise draw DETERMINISTIC (inverse-CDF of the Laplace distribution
    evaluated at an md5-derived uniform per cell, magnitude FLOORed to
    an integer — the quantized-Laplace/two-sided-geometric form; a
    production deployment swaps the md5 stream for a sealed PRNG seed,
    the mechanism and accounting are unchanged).  The composition
    LEDGER is the point: within one histogram the cells partition the
    rows, so PARALLEL composition charges ε once per release; the two
    releases stack SEQUENTIALLY, so eps_total = 2·ε — emitted on every
    row as the budget a DP accountant would record.

    Determinism makes the mechanism oracle-checkable end to end (both
    engines evaluate the identical closed-form double expression and
    FLOOR once — the events_twap discipline applied to noise), which
    is exactly how you regression-test a DP pipeline: fix the seed,
    hash the release.

    Scale shape: each release is one map-side-combined census; noise
    is a per-cell scalar expression; the ledger is a literal.  At
    100 TB the histogram state is cells, not rows."""
    from .dedup import _shingle_int

    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    rel = (
        e.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_true"))
        .select(
            F.lit("type_hist").alias("release"),
            F.col("event_type").alias("key"),
            "n_true",
        )
        .unionByName(
            # DuckDB dayofweek is 0-based Sunday; Spark 1-based
            e.groupBy((F.dayofweek("ts") - 1).alias("dow"))
            .agg(F.count("*").cast("bigint").alias("n_true"))
            .select(
                F.lit("dow_hist").alias("release"),
                F.col("dow").cast("string").alias("key"),
                "n_true",
            )
        )
    )
    h = _shingle_int(
        F.concat(
            F.lit("dp:"), F.col("release"), F.lit(":"), F.col("key")
        )
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    t = u - F.lit(0.5)
    mag = F.floor(-F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))).cast(
        "bigint"
    )
    noise = F.when(t >= 0, mag).otherwise(-mag)
    return rel.select(
        "release",
        "key",
        (F.col("n_true") + noise).cast("bigint").alias("n_noisy"),
        noise.cast("bigint").alias("noise"),
        F.lit(float(_DP_EPS)).alias("eps_release"),
        F.lit(2.0 * _DP_EPS).alias("eps_total"),
    )


# ---------------------------------------------------------------------------
# Fairness gap audit — demographic parity, equalized odds, four-fifths
# rule (the bias gate beside the privacy gates)
# ---------------------------------------------------------------------------

_FAIR_THRESH = 5000  # decision rule: predict positive iff vi >= 50.00

_FAIR_ORACLE = f"""
WITH e AS (
  SELECT user_id % 3 AS grp,
    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
    CASE WHEN CAST(ROUND(value * 100) AS BIGINT) >= {_FAIR_THRESH}
         THEN 1 ELSE 0 END AS yhat
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND user_id IS NOT NULL
),
g AS (
  SELECT grp,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(yhat) AS BIGINT) AS n_sel,
    CAST(SUM(y) AS BIGINT) AS n_pos,
    CAST(SUM(y * yhat) AS BIGINT) AS n_tp,
    CAST(SUM((1 - y) * yhat) AS BIGINT) AS n_fp
  FROM e GROUP BY grp
),
q AS (
  SELECT grp, n, n_sel, n_pos,
    CAST((n_sel * 1000000000) // n AS BIGINT) AS sel_q,
    CAST((n_tp * 1000000000) // NULLIF(n_pos, 0) AS BIGINT) AS tpr_q,
    CAST((n_fp * 1000000000) // NULLIF(n - n_pos, 0) AS BIGINT) AS fpr_q
  FROM g
),
gaps AS (
  SELECT
    MAX(sel_q) - MIN(sel_q) AS dp_gap_q,
    MAX(tpr_q) - MIN(tpr_q) AS tpr_gap_q,
    MAX(fpr_q) - MIN(fpr_q) AS fpr_gap_q,
    CAST((MIN(sel_q) * 1000000000) // NULLIF(MAX(sel_q), 0) AS BIGINT)
      AS sel_ratio_q
  FROM q
)
SELECT CAST(q.grp AS BIGINT) AS grp, q.n, q.n_sel, q.n_pos,
  CAST(q.sel_q AS DOUBLE) / 1000000000.0 AS selection_rate,
  CAST(q.tpr_q AS DOUBLE) / 1000000000.0 AS tpr,
  CAST(q.fpr_q AS DOUBLE) / 1000000000.0 AS fpr,
  CAST(g.dp_gap_q AS BIGINT) AS dp_gap_q,
  CAST(g.tpr_gap_q AS BIGINT) AS tpr_gap_q,
  CAST(g.fpr_gap_q AS BIGINT) AS fpr_gap_q,
  g.sel_ratio_q >= 800000000 AS four_fifths_ok
FROM q, gaps g
"""


@query("fairness_gap_audit", oracle=_FAIR_ORACLE)
def q_fairness_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAIRNESS gap audit — the bias gate that sits beside the privacy
    gates (k-anonymity / l-diversity / t-closeness) before a model or
    a labeled release ships: for a fixed decision rule (predict
    'error' iff value ≥ {_FAIR_THRESH}/100 — any scored model slots
    in) and a protected grouping (user_id % 3, the synthetic stand-in
    a real deployment replaces with its protected attribute), the
    audit computes per group the SELECTION RATE (demographic parity),
    TPR and FPR (equalized odds), all quantized to 1e-9-grain
    integers by integer division; the across-group gaps and the EEOC
    FOUR-FIFTHS selection-ratio test ride along as exact-integer
    scalars (min·1e9 div max ≥ 0.8·1e9).  NULLIF guards the
    degenerate strata (a group with no positives has NULL TPR on both
    engines, the variance-denominator discipline).

    Scale shape: one conditional-aggregation census per group (map-
    side combined), then constant-size gap folds — the audit costs
    one pass regardless of row count, which is why it belongs in the
    ingest gate, not a notebook."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            (F.col("user_id") % 3).alias("grp"),
            F.when(F.col("event_type") == "error", 1)
            .otherwise(0)
            .alias("y"),
            F.when(
                F.round(F.col("value") * 100).cast("bigint")
                >= _FAIR_THRESH,
                1,
            )
            .otherwise(0)
            .alias("yhat"),
        )
    )
    g = e.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("yhat").cast("bigint").alias("n_sel"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("n_tp"),
        F.sum((1 - F.col("y")) * F.col("yhat"))
        .cast("bigint")
        .alias("n_fp"),
    )
    q = g.select(
        "grp",
        "n",
        "n_sel",
        "n_pos",
        F.expr("(n_sel * 1000000000) div n").cast("bigint").alias(
            "sel_q"
        ),
        F.expr("(n_tp * 1000000000) div nullif(n_pos, 0)")
        .cast("bigint")
        .alias("tpr_q"),
        F.expr("(n_fp * 1000000000) div nullif(n - n_pos, 0)")
        .cast("bigint")
        .alias("fpr_q"),
    )
    gaps = q.agg(
        (F.max("sel_q") - F.min("sel_q")).alias("dp_gap_q"),
        (F.max("tpr_q") - F.min("tpr_q")).alias("tpr_gap_q"),
        (F.max("fpr_q") - F.min("fpr_q")).alias("fpr_gap_q"),
        F.expr(
            "(min(sel_q) * 1000000000) div nullif(max(sel_q), 0)"
        )
        .cast("bigint")
        .alias("sel_ratio_q"),
    )
    return q.crossJoin(F.broadcast(gaps)).select(
        F.col("grp").cast("bigint").alias("grp"),
        "n",
        "n_sel",
        "n_pos",
        (F.col("sel_q").cast("double") / F.lit(1e9)).alias(
            "selection_rate"
        ),
        (F.col("tpr_q").cast("double") / F.lit(1e9)).alias("tpr"),
        (F.col("fpr_q").cast("double") / F.lit(1e9)).alias("fpr"),
        F.col("dp_gap_q").cast("bigint").alias("dp_gap_q"),
        F.col("tpr_gap_q").cast("bigint").alias("tpr_gap_q"),
        F.col("fpr_gap_q").cast("bigint").alias("fpr_gap_q"),
        (F.col("sel_ratio_q") >= 800000000).alias("four_fifths_ok"),
    )


@query("stream_dp_histogram_release", oracle=_dp_oracle())
def q_stream_dp_histogram_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of dp_event_histogram_release — the deployed DP
    telemetry shape: true counts are maintained across micro-batches
    as bid-keyed additive partials
    (streaming/pipeline.py::run_stream_dp_counts) and the Laplace
    mechanism + epsilon ledger apply ONCE at release time from the
    merged state.  Noise-at-release (never per batch) is the
    load-bearing design point: per-batch noising would both destroy
    partial mergeability and multiply the spent budget by the batch
    count — the aggregate-then-release discipline every production DP
    pipeline (RAPPOR-descendant telemetry, census-style releases)
    follows.  The batch oracle is the ground truth the streamed fold
    must hash-match exactly.

    Scale shape: per trigger one cell-bounded count; the release-time
    noise is a per-cell scalar expression over cells, not rows."""
    from ..streaming.pipeline import run_stream_dp_counts
    from .dedup import _shingle_int

    rel = run_stream_dp_counts(spark, sf_dir).localCheckpoint(
        eager=True
    )
    h = _shingle_int(
        F.concat(
            F.lit("dp:"), F.col("release"), F.lit(":"), F.col("key")
        )
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    t = u - F.lit(0.5)
    mag = F.floor(-F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))).cast(
        "bigint"
    )
    noise = F.when(t >= 0, mag).otherwise(-mag)
    return rel.select(
        "release",
        "key",
        (F.col("n_true") + noise).cast("bigint").alias("n_noisy"),
        noise.cast("bigint").alias("noise"),
        F.lit(float(_DP_EPS)).alias("eps_release"),
        F.lit(2.0 * _DP_EPS).alias("eps_total"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test — type × day-of-week contingency audit,
# the classical categorical-association member of the test family
# ---------------------------------------------------------------------------

_CHISQ_CRIT_24DOF = 36.415  # 0.05 critical value at (5-1)(7-1) dof (doc)

_CHISQ_ORACLE = """
WITH e AS (
  SELECT event_type, dayofweek(ts) AS dow
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
o AS MATERIALIZED (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS obs
  FROM e GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt FROM o GROUP BY 1),
c AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM o GROUP BY 1),
n AS (SELECT CAST(SUM(obs) AS BIGINT) AS nt FROM o),
grid AS (
  SELECT r.event_type, c.dow, COALESCE(o.obs, 0) AS obs, r.rt, c.ct,
    (SELECT nt FROM n) AS nt
  FROM r CROSS JOIN c
  LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow
),
terms AS MATERIALIZED (
  SELECT event_type, dow, obs, rt, ct, nt,
    CAST(FLOOR(1000000.0
      * CAST(CAST(obs * nt - rt * ct AS HUGEINT)
             * CAST(obs * nt - rt * ct AS HUGEINT) AS DOUBLE)
      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) * CAST(nt AS DOUBLE)))
      AS BIGINT) AS term_q
  FROM grid
),
tot AS (
  SELECT CAST(SUM(term_q) AS BIGINT) AS chisq_num,
    CAST((COUNT(DISTINCT event_type) - 1)
       * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof
  FROM terms
)
SELECT t.event_type, CAST(t.dow AS BIGINT) AS dow, t.obs,
  t.rt AS row_total, t.ct AS col_total,
  CAST(t.term_q AS DOUBLE) / 1000000.0 AS term,
  (SELECT chisq_num FROM tot) AS chisq_num,
  CAST((SELECT chisq_num FROM tot) AS DOUBLE) / 1000000.0 AS chisq,
  (SELECT dof FROM tot) AS dof
FROM terms t
"""


@query("event_type_dow_chisq", oracle=_CHISQ_ORACLE)
def q_event_type_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE independence test on the type × day-of-week
    contingency table — the classical categorical-association member
    of the statistical-test family (z-test for means, Mann-Kendall for
    trend, runs test for randomness, SPRT for sequential decisions,
    KS/EMD for distributions; chi-square for CATEGORY×CATEGORY
    association — "does event mix depend on weekday", the seasonality
    gate behind the dow-residuals feature).

    Exactness: each Pearson term (O−E)²/E is restated over the
    cross-multiplied integers ((O·N − r·c)² / (r·c·N)) — the square
    reaches 1e20 so it folds in 128-bit exact arithmetic
    (HUGEINT / decimal(38,0), the PSI total discipline) before ONE
    correctly-rounded division per cell, FLOOR-quantized to the 1e-6
    grain and summed exactly; per-cell terms, the statistic, and the
    dof all hash-check.  (The 0.05 critical value at 24 dof is 36.4 —
    a reader-side constant; the hash pins the statistic itself.)
    Note Spark dayofweek == DuckDB dayofweek + 1; the dow KEY here is
    only a group label, so Spark emits `dayofweek(ts) - 1` to match
    (the documented pairing).

    Scale shape: one map-side-combined (type, dow) census (state =
    occupied cells); the grid densifies to types × 7 rows; everything
    after is cell-grain arithmetic — at 100 TB the census is the only
    data-scale pass."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    o = (
        e.groupBy(
            "event_type", (F.dayofweek("ts") - 1).alias("dow")
        )
        .agg(F.count("*").cast("bigint").alias("obs"))
        .localCheckpoint(eager=True)
    )
    r = o.groupBy("event_type").agg(
        F.sum("obs").cast("bigint").alias("rt")
    )
    c = o.groupBy("dow").agg(F.sum("obs").cast("bigint").alias("ct"))
    n = o.agg(F.sum("obs").cast("bigint").alias("nt"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .join(o, ["event_type", "dow"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
            "rt",
            "ct",
            "nt",
        )
    )
    diff = (F.col("obs") * F.col("nt") - F.col("rt") * F.col("ct")).cast(
        "decimal(38,0)"
    )
    term_q = F.floor(
        F.lit(1e6)
        * (diff * diff).cast("double")
        / (
            F.col("rt").cast("double")
            * F.col("ct").cast("double")
            * F.col("nt").cast("double")
        )
    ).cast("bigint")
    terms = grid.select(
        "event_type", "dow", "obs", "rt", "ct", "nt", term_q.alias("term_q")
    ).localCheckpoint(eager=True)
    tot = terms.agg(
        F.sum("term_q").cast("bigint").alias("chisq_num"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("bigint")
        .alias("dof"),
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        "obs",
        F.col("rt").alias("row_total"),
        F.col("ct").alias("col_total"),
        (F.col("term_q").cast("double") / F.lit(1e6)).alias("term"),
        "chisq_num",
        (F.col("chisq_num").cast("double") / F.lit(1e6)).alias("chisq"),
        "dof",
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over a per-cell Welch-z battery — the
# multiple-testing correction that makes the test ladder honest when it
# is run as a BATTERY instead of a single hypothesis
# ---------------------------------------------------------------------------

_BH_ORACLE = """
WITH e AS (
  SELECT event_type, dayofweek(ts) AS dow,
    CAST(ROUND(value * 10000.0) AS BIGINT) AS vi
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
),
cells AS MATERIALIZED (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n1,
    CAST(SUM(vi) AS BIGINT) AS s1, CAST(SUM(vi * vi) AS BIGINT) AS q1
  FROM e GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS nt, CAST(SUM(s1) AS BIGINT) AS st,
    CAST(SUM(q1) AS BIGINT) AS qt
  FROM cells
),
mom AS (
  SELECT c.event_type, c.dow, c.n1, t.nt - c.n1 AS n2,
    CAST(c.s1 AS DOUBLE) / 10000.0 / c.n1 AS mean1,
    CAST(t.st - c.s1 AS DOUBLE) / 10000.0 / (t.nt - c.n1) AS mean2,
    (CAST(c.q1 AS DOUBLE) / 100000000.0
     - c.n1 * (CAST(c.s1 AS DOUBLE) / 10000.0 / c.n1)
            * (CAST(c.s1 AS DOUBLE) / 10000.0 / c.n1)) / (c.n1 - 1)
      AS var1,
    (CAST(t.qt - c.q1 AS DOUBLE) / 100000000.0
     - (t.nt - c.n1)
       * (CAST(t.st - c.s1 AS DOUBLE) / 10000.0 / (t.nt - c.n1))
       * (CAST(t.st - c.s1 AS DOUBLE) / 10000.0 / (t.nt - c.n1)))
    / (t.nt - c.n1 - 1) AS var2
  FROM cells c CROSS JOIN tot t
  WHERE c.n1 >= 2 AND t.nt - c.n1 >= 2
),
zs AS MATERIALIZED (
  SELECT event_type, dow, n1, n2,
    (mean1 - mean2) / sqrt(var1 / n1 + var2 / n2) AS zst
  FROM mom WHERE var1 / n1 + var2 / n2 > 0.0
),
ps AS (
  SELECT event_type, dow, n1, n2, zst,
    CASE WHEN zst = 0.0 THEN 1.0
         ELSE LEAST(1.0, 1.0 / (zst * zst)) END AS p
  FROM zs
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ps),
ranked AS MATERIALIZED (
  SELECT p.*, mm.m,
    CAST(row_number() OVER (ORDER BY p.p, p.event_type, p.dow)
         AS BIGINT) AS r
  FROM ps p CROSS JOIN mm
),
dec AS MATERIALIZED (
  SELECT *, CAST(r AS DOUBLE) / (10.0 * m) AS thr,
    p <= CAST(r AS DOUBLE) / (10.0 * m) AS le
  FROM ranked
),
kk AS (
  SELECT COALESCE(MAX(CASE WHEN le THEN r ELSE CAST(0 AS BIGINT) END),
                  CAST(0 AS BIGINT)) AS k
  FROM dec
)
SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow,
  d.n1 AS n_cell, d.n2 AS n_rest, d.zst AS z_stat, d.p AS p_cheb,
  d.r AS bh_rank, d.thr AS bh_thr, d.m AS m_tests, kk.k AS k_reject,
  d.r <= kk.k AS rejected
FROM dec d CROSS JOIN kk
"""


@query("events_bh_fdr_battery", oracle=_BH_ORACLE)
def q_events_bh_fdr_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control over a (type × day-of-week)
    battery of two-sample Welch z-tests — the multiple-testing member
    that completes the ladder's honesty story: the z-test answers one
    hypothesis, but monitoring runs the SAME test over every cell of a
    grid, and at 35 cells a per-test α=0.05 expects ~2 false alarms;
    BH caps the FALSE DISCOVERY RATE at q=0.10 with the classic
    step-up rule (sort p ascending, reject ranks ≤ k where k = max r
    with p_(r) ≤ r·q/m).

    Each cell's test is mean-value-in-cell vs mean-value-everywhere-
    else (the exact complement from the global moment totals — one
    census, no second scan), the events_value_ztest Welch chain
    verbatim.  P-values are the distribution-free CHEBYSHEV bound
    p = min(1, 1/z²) — deliberately conservative but EXACT-arithmetic
    (pure correctly-rounded divides on the integer-mantissa moment
    chain; Φ(z) would need erf, which neither engine guarantees
    bit-identically), so BH on them is a valid (conservative) FDR
    procedure and every p, threshold, and verdict hash-checks.
    Degenerate cells (n < 2 either side, zero standard error) are
    excluded by identical integer/double guards on both engines.

    Scale shape: ONE map-side-combined (type, dow, moments) census is
    the only data-scale pass; the battery is cell-grain (≤ types × 7
    rows), so the global rank window and step-up scan run on a frame
    the size of the hypothesis grid, not the data.

    Reference parity: the reference ETL has no statistics; this
    extends the engine's monitoring family (SURVEY.md §2.5 extension
    ladder: z-test → MK/runs → SPRT → chi-square → KS/EMD → BH-FDR)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
    cells = (
        e.groupBy("event_type", (F.dayofweek("ts") - 1).alias("dow"))
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.sum(vi).cast("bigint").alias("s1"),
            F.sum(vi * vi).cast("bigint").alias("q1"),
        )
        .localCheckpoint(eager=True)
    )
    return _bh_from_cells(cells)


def _bh_from_cells(cells: DataFrame) -> DataFrame:
    """BH step-up over a (event_type, dow, n1, s1, q1) moment census —
    shared by the batch battery and its streaming twin."""
    tot = cells.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("bigint").alias("st"),
        F.sum("q1").cast("bigint").alias("qt"),
    )
    n1, n2 = F.col("n1"), F.col("nt") - F.col("n1")
    mean1 = F.col("s1").cast("double") / F.lit(10000.0) / n1
    mean2 = (
        (F.col("st") - F.col("s1")).cast("double") / F.lit(10000.0) / n2
    )
    var1 = (
        F.col("q1").cast("double") / F.lit(100000000.0)
        - n1 * mean1 * mean1
    ) / (n1 - 1)
    var2 = (
        (F.col("qt") - F.col("q1")).cast("double") / F.lit(100000000.0)
        - n2 * mean2 * mean2
    ) / (n2 - 1)
    se2 = var1 / n1 + var2 / n2
    zst = (mean1 - mean2) / F.sqrt(se2)
    ps = (
        cells.crossJoin(F.broadcast(tot))
        .filter((n1 >= 2) & (n2 >= 2))
        .filter(se2 > 0.0)
        .select(
            "event_type",
            "dow",
            n1.alias("n1"),
            n2.alias("n2"),
            zst.alias("zst"),
            F.when(zst == 0.0, F.lit(1.0))
            .otherwise(
                F.least(F.lit(1.0), F.lit(1.0) / (zst * zst))
            )
            .alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    mm = ps.agg(F.count("*").cast("bigint").alias("m"))
    ranked = (
        ps.crossJoin(F.broadcast(mm))
        .withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy("p", "event_type", "dow"))
            .cast("bigint"),
        )
        .localCheckpoint(eager=True)
    )
    thr = F.col("r").cast("double") / (F.lit(10.0) * F.col("m"))
    dec = ranked.select(
        "*", thr.alias("thr"), (F.col("p") <= thr).alias("le")
    ).localCheckpoint(eager=True)
    kk = dec.agg(
        F.coalesce(
            F.max(
                F.when(F.col("le"), F.col("r")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("k")
    )
    return dec.crossJoin(F.broadcast(kk)).select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n1").alias("n_cell"),
        F.col("n2").alias("n_rest"),
        F.col("zst").alias("z_stat"),
        F.col("p").alias("p_cheb"),
        F.col("r").alias("bh_rank"),
        F.col("thr").alias("bh_thr"),
        F.col("m").alias("m_tests"),
        F.col("k").alias("k_reject"),
        (F.col("r") <= F.col("k")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F-test across event types — the k-group generalization
# of the two-sample z-test (variance decomposition from one census)
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 10000.0) AS BIGINT) AS vi
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
g AS MATERIALIZED (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nj,
    CAST(SUM(vi) AS BIGINT) AS sj, CAST(SUM(vi * vi) AS BIGINT) AS qj
  FROM e GROUP BY 1
),
terms AS MATERIALIZED (
  SELECT event_type, nj, sj, qj,
    CAST(FLOOR(1000000.0
      * CAST(CAST(sj AS HUGEINT) * CAST(sj AS HUGEINT) AS DOUBLE)
      / (100000000.0 * nj)) AS BIGINT) AS bt_q
  FROM g
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(nj) AS BIGINT) AS nt, CAST(SUM(sj) AS BIGINT) AS st,
    CAST(SUM(qj) AS BIGINT) AS qt, CAST(SUM(bt_q) AS BIGINT) AS btsum,
    CAST(COUNT(*) AS BIGINT) AS k
  FROM terms
),
stats AS (
  SELECT nt, k,
    btsum - CAST(FLOOR(1000000.0
      * CAST(CAST(st AS HUGEINT) * CAST(st AS HUGEINT) AS DOUBLE)
      / (100000000.0 * nt)) AS BIGINT) AS ssb_q,
    CAST(qt // 100 AS BIGINT) - btsum AS ssw_q
  FROM tot
)
SELECT t.event_type, t.nj AS n_group,
  CAST(t.sj AS DOUBLE) / 10000.0 / t.nj AS mean_value,
  s.k AS k_groups, s.nt AS n_total,
  CAST(s.ssb_q AS DOUBLE) / 1000000.0 AS ss_between,
  CAST(s.ssw_q AS DOUBLE) / 1000000.0 AS ss_within,
  s.k - 1 AS dof_between, s.nt - s.k AS dof_within,
  (CAST(s.ssb_q AS DOUBLE) * (s.nt - s.k))
    / NULLIF(CAST(s.ssw_q AS DOUBLE) * (s.k - 1), 0.0) AS f_stat,
  CAST(s.ssb_q AS DOUBLE)
    / NULLIF(CAST(s.ssb_q + s.ssw_q AS DOUBLE), 0.0) AS eta_sq
FROM terms t CROSS JOIN stats s
"""


@query("event_value_anova", oracle=_ANOVA_ORACLE)
def q_event_value_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F-test of mean event value across ALL event types
    — the k-group generalization of the two-sample z-test (which fixes
    click vs purchase): does value depend on type AT ALL, before any
    pairwise drill-down (the omnibus gate the BH battery then
    localizes per cell).

    Exactness: the variance decomposition is restated over the exact
    integer moment census — SSB = Σ sⱼ²/(10⁸nⱼ) − S²/(10⁸N) and
    SSW = Q/10⁸ − Σ sⱼ²/(10⁸nⱼ) — with each between-group term
    FLOOR-quantized to the 1e-6 grain after ONE correctly-rounded
    division (sⱼ² reaches ~1e25 so the square folds in 128-bit exact
    arithmetic — HUGEINT / decimal(38,0), the chi-square discipline —
    before its single cast to double), the Q/10⁸ total taken as the
    EXACT integer Q div 100 (never through a >2^53 double), and the
    quantized numerators summed exactly; F and η² are then one
    closed-form double expression each, NULLIF-guarded at birth
    (degenerate all-equal-within-groups inputs yield NULL, not a
    throw).  Note div/floor agree here because every operand is
    nonnegative (squares and counts).

    Scale shape: ONE map-side-combined per-type moment census (k rows
    of state) is the only data-scale pass; everything downstream is
    group-grain scalar arithmetic — the statistical-test family law
    (SCALE.md §Statistical tests) in its purest form."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
    g = (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("nj"),
            F.sum(vi).cast("bigint").alias("sj"),
            F.sum(vi * vi).cast("bigint").alias("qj"),
        )
        .localCheckpoint(eager=True)
    )

    def _bt_q(s, n):
        sq = (s.cast("decimal(38,0)") * s.cast("decimal(38,0)")).cast(
            "double"
        )
        return F.floor(
            F.lit(1000000.0) * sq / (F.lit(100000000.0) * n)
        ).cast("bigint")

    terms = g.select(
        "event_type", "nj", "sj", "qj", _bt_q(F.col("sj"), F.col("nj")).alias("bt_q")
    ).localCheckpoint(eager=True)
    tot = terms.agg(
        F.sum("nj").cast("bigint").alias("nt"),
        F.sum("sj").cast("bigint").alias("st"),
        F.sum("qj").cast("bigint").alias("qt"),
        F.sum("bt_q").cast("bigint").alias("btsum"),
        F.count("*").cast("bigint").alias("k"),
    )
    stats = tot.select(
        "nt",
        "k",
        (F.col("btsum") - _bt_q(F.col("st"), F.col("nt"))).alias("ssb_q"),
        (F.expr("qt div 100") - F.col("btsum")).alias("ssw_q"),
    )
    fden = F.nullif(
        F.col("ssw_q").cast("double") * (F.col("k") - 1), F.lit(0.0)
    )
    return terms.crossJoin(F.broadcast(stats)).select(
        "event_type",
        F.col("nj").alias("n_group"),
        (F.col("sj").cast("double") / F.lit(10000.0) / F.col("nj")).alias(
            "mean_value"
        ),
        F.col("k").alias("k_groups"),
        F.col("nt").alias("n_total"),
        (F.col("ssb_q").cast("double") / F.lit(1000000.0)).alias(
            "ss_between"
        ),
        (F.col("ssw_q").cast("double") / F.lit(1000000.0)).alias(
            "ss_within"
        ),
        (F.col("k") - 1).alias("dof_between"),
        (F.col("nt") - F.col("k")).alias("dof_within"),
        (
            F.col("ssb_q").cast("double") * (F.col("nt") - F.col("k"))
            / fden
        ).alias("f_stat"),
        (
            F.col("ssb_q").cast("double")
            / F.nullif(
                (F.col("ssb_q") + F.col("ssw_q")).cast("double"),
                F.lit(0.0),
            )
        ).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H — the rank-based (nonparametric) omnibus twin of the
# one-way ANOVA, from the same census machinery as the KS/EMD drift pair
# ---------------------------------------------------------------------------

_KW_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 10000.0) AS BIGINT) AS vi
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
cells AS MATERIALIZED (
  SELECT vi, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
vals AS MATERIALIZED (
  SELECT vi, CAST(SUM(c) AS BIGINT) AS cnt FROM cells GROUP BY 1
),
ranked AS MATERIALIZED (
  SELECT vi, cnt,
    CAST(2 * SUM(cnt) OVER (ORDER BY vi) - cnt + 1 AS BIGINT) AS r2
  FROM vals
),
rg AS MATERIALIZED (
  SELECT c.event_type, CAST(SUM(c.c) AS BIGINT) AS nj,
    CAST(SUM(c.c * r.r2) AS BIGINT) AS r2j
  FROM cells c JOIN ranked r ON r.vi = c.vi
  GROUP BY 1
),
terms AS MATERIALIZED (
  SELECT event_type, nj, r2j,
    CAST(FLOOR(
      CAST(CAST(r2j AS HUGEINT) * CAST(r2j AS HUGEINT) AS DOUBLE)
      / (4.0 * nj)) AS BIGINT) AS t_q
  FROM rg
),
ties AS (
  SELECT COALESCE(
    CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE),
    0.0) AS tie3
  FROM vals
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(nj) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(t_q) AS BIGINT) AS tsum
  FROM terms
),
stats AS (
  SELECT nt, k, tsum,
    12.0 * CAST(tsum AS DOUBLE)
      / (CAST(nt AS DOUBLE) * (nt + 1)) - 3.0 * (nt + 1) AS h_raw,
    1.0 - (SELECT tie3 FROM ties)
        / (CAST(nt AS DOUBLE) * nt * nt - nt) AS tie_corr
  FROM tot
)
SELECT t.event_type, t.nj AS n_group, t.r2j AS rank2_sum,
  s.k AS k_groups, s.nt AS n_total, s.h_raw, s.tie_corr,
  s.h_raw / NULLIF(s.tie_corr, 0.0) AS h_stat,
  s.k - 1 AS dof
FROM terms t CROSS JOIN stats s
"""


@query("event_value_kruskal_wallis", oracle=_KW_ORACLE)
def q_event_value_kruskal_wallis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KRUSKAL-WALLIS H — the RANK-based omnibus across event types,
    the nonparametric twin of event_value_anova (ANOVA compares
    means under a variance model; KW compares rank distributions and
    survives the heavy-tailed values real telemetry has — the pairing
    every runbook quotes, exactly as Theil-Sen pairs with OLS).

    Exactness: average ranks under ties are carried DOUBLED so they
    stay integer (r2(v) = 2·cum(v) − cnt(v) + 1 over the ordered
    distinct-value census), per-type rank sums Σc·r2 are exact
    bigints, each R²ⱼ/nⱼ term folds its ~1e20 square in 128-bit exact
    arithmetic before ONE cast and division (the ANOVA/chi-square
    discipline), FLOOR-quantized at the INTEGER grain — rank terms
    are ~1e15 so unit grain already carries 15 significant digits,
    and a finer 1e-6 grain would push the quantized term past 2^63
    (the first draft hit exactly this ARITHMETIC_OVERFLOW at sf0.1;
    the term bound is n³, so unit grain holds to n < 2·10⁶ — past
    that, pre-bin the value census) — and summed exactly; the
    tie-correction numerator Σ(t³−t) likewise folds in 128-bit before
    its single cast.  H, the correction, and the
    corrected statistic are closed-form doubles, NULLIF-guarded for
    the all-one-value degenerate input.

    Scale shape: one (value, type) census pass is the only data-scale
    stage; the rank walk is ONE ordered window over the DISTINCT-value
    census (the KS/EMD discipline — at 100 TB pre-bin values to a
    fixed grid if the distinct census itself would be large), and
    everything after is group-grain scalar arithmetic."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    vi = F.round(F.col("value") * F.lit(10000.0)).cast("bigint")
    cells = (
        e.select(vi.alias("vi"), "event_type")
        .groupBy("vi", "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    vals = cells.groupBy("vi").agg(
        F.sum("c").cast("bigint").alias("cnt")
    )
    w_run = Window.orderBy("vi")
    ranked = vals.select(
        "vi",
        "cnt",
        (
            F.lit(2) * F.sum("cnt").over(w_run) - F.col("cnt") + 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    rg = (
        cells.join(ranked, "vi")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2j"),
        )
    )
    sq = (
        F.col("r2j").cast("decimal(38,0)")
        * F.col("r2j").cast("decimal(38,0)")
    ).cast("double")
    terms = rg.select(
        "event_type",
        "nj",
        "r2j",
        F.floor(sq / (F.lit(4.0) * F.col("nj")))
        .cast("bigint")
        .alias("t_q"),
    ).localCheckpoint(eager=True)
    ties = vals.agg(
        F.coalesce(
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * F.col("cnt")
                * F.col("cnt")
                - F.col("cnt")
            ).cast("double"),
            F.lit(0.0),
        ).alias("tie3")
    )
    tot = terms.agg(
        F.sum("nj").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("k"),
        F.sum("t_q").cast("bigint").alias("tsum"),
    )
    ntd = F.col("nt").cast("double")
    stats = tot.crossJoin(F.broadcast(ties)).select(
        "nt",
        "k",
        "tsum",
        (
            F.lit(12.0)
            * F.col("tsum").cast("double")
            / (ntd * (F.col("nt") + 1))
            - F.lit(3.0) * (F.col("nt") + 1)
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tie3") / (ntd * F.col("nt") * F.col("nt") - F.col("nt"))
        ).alias("tie_corr"),
    )
    return terms.crossJoin(F.broadcast(stats)).select(
        "event_type",
        F.col("nj").alias("n_group"),
        F.col("r2j").alias("rank2_sum"),
        F.col("k").alias("k_groups"),
        F.col("nt").alias("n_total"),
        "h_raw",
        "tie_corr",
        (F.col("h_raw") / F.nullif(F.col("tie_corr"), F.lit(0.0))).alias(
            "h_stat"
        ),
        (F.col("k") - 1).alias("dof"),
    )


@query("stream_bh_fdr_battery", oracle=_BH_ORACLE)
def q_stream_bh_fdr_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of events_bh_fdr_battery — the live
    multiple-testing monitor: scored events arrive as micro-batches
    and fold into additive (type, dow, value) integer COUNT partials
    (streaming/pipeline.py::_run_stream_count_fold — the conformal /
    BT / AUC / KS-EMD discipline); the moment census (n, Σv, Σv²) and
    the whole BH step-up run at drain on the MERGED census, so the
    streamed battery is batch-identical under any batching, ordering,
    or at-least-once replay, and the BATCH oracle is the ground truth
    verbatim.

    Scale shape: per trigger one map-side-combined count bounded by
    the batch's distinct (type, dow, value) triples; drain-side state
    is the census; the step-up runs on the hypothesis grid."""
    from ..streaming.pipeline import _run_stream_count_fold

    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_type",
            (F.dayofweek("ts") - 1).alias("dow"),
            F.round(F.col("value") * F.lit(10000.0))
            .cast("bigint")
            .alias("vi"),
        )
    )
    census = _run_stream_count_fold(spark, e, ["event_type", "dow", "vi"])
    cells = (
        census.groupBy("event_type", "dow")
        .agg(
            F.sum("c").cast("bigint").alias("n1"),
            F.sum(F.col("vi") * F.col("c")).cast("bigint").alias("s1"),
            F.sum(F.col("vi") * F.col("vi") * F.col("c"))
            .cast("bigint")
            .alias("q1"),
        )
        .localCheckpoint(eager=True)
    )
    return _bh_from_cells(cells)


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel — stratified 2x2 association, the confounder-
# adjusted member of the categorical test family
# ---------------------------------------------------------------------------

_CMH_ORACLE = """
WITH e AS (
  SELECT CAST(hour(ts) // 6 AS BIGINT) AS hq,
    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wkd,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
strata AS MATERIALIZED (
  SELECT hq,
    CAST(SUM(wkd * pur) AS BIGINT) AS a,
    CAST(SUM(wkd * (1 - pur)) AS BIGINT) AS b,
    CAST(SUM((1 - wkd) * pur) AS BIGINT) AS c,
    CAST(SUM((1 - wkd) * (1 - pur)) AS BIGINT) AS d
  FROM e GROUP BY 1
),
terms AS MATERIALIZED (
  SELECT hq, a, b, c, d, a + b + c + d AS n,
    CAST(FLOOR(1000000.0
      * CAST(CAST(a AS HUGEINT) * (a + b + c + d)
             - CAST(a + b AS HUGEINT) * (a + c) AS DOUBLE)
      / (a + b + c + d)) AS BIGINT) AS dq,
    CAST(FLOOR(1000000.0
      * CAST(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
             AS DOUBLE)
      / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
         * (a + b + c + d - 1))) AS BIGINT) AS vq,
    CAST(FLOOR(1000000.0 * CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
      / (a + b + c + d)) AS BIGINT) AS adq,
    CAST(FLOOR(1000000.0 * CAST(CAST(b AS HUGEINT) * c AS DOUBLE)
      / (a + b + c + d)) AS BIGINT) AS bcq
  FROM strata
  WHERE a + b + c + d >= 2
),
tot AS (
  SELECT CAST(SUM(dq) AS BIGINT) AS sd, CAST(SUM(vq) AS BIGINT) AS sv,
    CAST(SUM(adq) AS BIGINT) AS sad, CAST(SUM(bcq) AS BIGINT) AS sbc,
    CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM terms
)
SELECT t.hq AS stratum, t.a AS n_wkd_purchase, t.b AS n_wkd_other,
  t.c AS n_wd_purchase, t.d AS n_wd_other, t.n AS n_stratum,
  s.n_strata,
  (CAST(s.sd AS DOUBLE) / 1000000.0)
    * (CAST(s.sd AS DOUBLE) / 1000000.0)
    / NULLIF(CAST(s.sv AS DOUBLE) / 1000000.0, 0.0) AS cmh_chisq,
  CAST(s.sad AS DOUBLE) / NULLIF(CAST(s.sbc AS DOUBLE), 0.0) AS or_mh,
  CAST(1 AS BIGINT) AS dof
FROM terms t CROSS JOIN tot s
"""


@query("event_cmh_weekend_purchase", oracle=_CMH_ORACLE)
def q_event_cmh_weekend_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL test of the weekend ↔ purchase 2×2
    association STRATIFIED by time-of-day (four 6-hour strata) — the
    confounder-adjusted member of the categorical family: the plain
    chi-square (event_type_dow_chisq) would confound a time-of-day
    mix shift with a real weekend effect; CMH tests the association
    WITHIN each stratum and pools the evidence, the epidemiology
    workhorse for exactly this Simpson's-paradox failure mode.
    The Mantel-Haenszel common odds ratio rides along as the pooled
    effect size.

    Exactness: each stratum's 2×2 comes from ONE conditional-sum
    census row; (a − E), the hypergeometric variance term, and both
    odds-ratio numerator terms are restated over cross-multiplied
    integers (products reach n⁴ so they fold in 128-bit exact
    arithmetic — HUGEINT / decimal(38,0), the chi-square discipline —
    before ONE correctly-rounded division each), FLOOR-quantized at
    the 1e-6 grain and summed exactly; χ²_CMH and OR_MH are then one
    closed-form double expression each, NULLIF-guarded.  Degenerate
    strata (n < 2) are excluded by identical integer guards.  The
    classical 0.5 continuity correction is deliberately omitted (both
    engines state the uncorrected statistic; at census sizes the
    correction is noise and omitting it keeps the arithmetic pure).

    Scale shape: one map-side-combined (stratum, exposure, outcome)
    census — 4 rows of state — then stratum-grain scalar arithmetic;
    the statistical-test family law in its stratified form."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    wkd = F.when((F.dayofweek("ts") - 1).isin(0, 6), 1).otherwise(0)
    pur = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    strata = (
        e.select(
            F.expr("hour(ts) div 6").cast("bigint").alias("hq"),
            wkd.alias("wkd"),
            pur.alias("pur"),
        )
        .groupBy("hq")
        .agg(
            F.sum(F.col("wkd") * F.col("pur")).cast("bigint").alias("a"),
            F.sum(F.col("wkd") * (1 - F.col("pur")))
            .cast("bigint")
            .alias("b"),
            F.sum((1 - F.col("wkd")) * F.col("pur"))
            .cast("bigint")
            .alias("c"),
            F.sum((1 - F.col("wkd")) * (1 - F.col("pur")))
            .cast("bigint")
            .alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    return _cmh_from_strata(strata)


def _cmh_from_strata(strata: DataFrame) -> DataFrame:
    """CMH pooling from a (hq, a, b, c, d) stratum census — shared by
    the batch test and its streaming twin."""
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    dq = F.floor(
        F.lit(1000000.0)
        * (
            d38(F.col("a")) * n
            - d38(F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
        ).cast("double")
        / n
    ).cast("bigint")
    vq = F.floor(
        F.lit(1000000.0)
        * (
            d38(F.col("a") + F.col("b"))
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        ).cast("double")
        / (n.cast("double") * n * (n - 1))
    ).cast("bigint")
    adq = F.floor(
        F.lit(1000000.0) * (d38(F.col("a")) * F.col("d")).cast("double") / n
    ).cast("bigint")
    bcq = F.floor(
        F.lit(1000000.0) * (d38(F.col("b")) * F.col("c")).cast("double") / n
    ).cast("bigint")
    terms = (
        strata.filter(n >= 2)
        .select(
            "hq",
            "a",
            "b",
            "c",
            "d",
            n.alias("n"),
            dq.alias("dq"),
            vq.alias("vq"),
            adq.alias("adq"),
            bcq.alias("bcq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = terms.agg(
        F.sum("dq").cast("bigint").alias("sd"),
        F.sum("vq").cast("bigint").alias("sv"),
        F.sum("adq").cast("bigint").alias("sad"),
        F.sum("bcq").cast("bigint").alias("sbc"),
        F.count("*").cast("bigint").alias("n_strata"),
    )
    sdd = F.col("sd").cast("double") / F.lit(1000000.0)
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("hq").alias("stratum"),
        F.col("a").alias("n_wkd_purchase"),
        F.col("b").alias("n_wkd_other"),
        F.col("c").alias("n_wd_purchase"),
        F.col("d").alias("n_wd_other"),
        F.col("n").alias("n_stratum"),
        "n_strata",
        (
            sdd * sdd
            / F.nullif(
                F.col("sv").cast("double") / F.lit(1000000.0), F.lit(0.0)
            )
        ).alias("cmh_chisq"),
        (
            F.col("sad").cast("double")
            / F.nullif(F.col("sbc").cast("double"), F.lit(0.0))
        ).alias("or_mh"),
        F.lit(1).cast("bigint").alias("dof"),
    )


@query("stream_cmh_weekend_purchase", oracle=_CMH_ORACLE)
def q_stream_cmh_weekend_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of event_cmh_weekend_purchase: events arrive as
    micro-batches and fold into additive (stratum, exposure, outcome)
    integer COUNT partials via the shared count-fold harness; the 2×2
    censuses and the whole CMH pooling run at drain on the merged
    state, so the streamed statistic is batch-identical under any
    batching/replay and the batch oracle is the ground truth verbatim.

    Scale shape: per trigger one map-side-combined count over ≤ 16
    occupied (stratum, wkd, pur) cells; drain-side work is
    stratum-grain."""
    from ..streaming.pipeline import _run_stream_count_fold

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.expr("hour(ts) div 6").cast("bigint").alias("hq"),
            F.when((F.dayofweek("ts") - 1).isin(0, 6), 1)
            .otherwise(0)
            .alias("wkd"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pur"),
        )
    )
    census = _run_stream_count_fold(spark, e, ["hq", "wkd", "pur"])
    z = F.lit(0).cast("bigint")

    def cell(w: int, p: int):
        return F.coalesce(
            F.sum(
                F.when(
                    (F.col("wkd") == w) & (F.col("pur") == p), F.col("c")
                ).otherwise(F.lit(0))
            ).cast("bigint"),
            z,
        )

    strata = (
        census.groupBy("hq")
        .agg(
            cell(1, 1).alias("a"),
            cell(1, 0).alias("b"),
            cell(0, 1).alias("c"),
            cell(0, 0).alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    return _cmh_from_strata(strata)


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra — the ordered-alternative omnibus (monotone trend
# across ORDERED groups), completing the rank family beside KW
# ---------------------------------------------------------------------------

_JT_ORACLE = """
WITH e AS (
  SELECT CAST(hour(ts) // 6 AS BIGINT) AS g,
    CAST(ROUND(value * 10000.0) AS BIGINT) AS vi
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
cells AS MATERIALIZED (
  SELECT vi, g, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
),
wide AS MATERIALIZED (
  SELECT vi,
    CAST(COALESCE(SUM(CASE WHEN g = 0 THEN c END), 0) AS BIGINT) AS c0,
    CAST(COALESCE(SUM(CASE WHEN g = 1 THEN c END), 0) AS BIGINT) AS c1,
    CAST(COALESCE(SUM(CASE WHEN g = 2 THEN c END), 0) AS BIGINT) AS c2,
    CAST(COALESCE(SUM(CASE WHEN g = 3 THEN c END), 0) AS BIGINT) AS c3
  FROM cells GROUP BY vi
),
cum AS MATERIALIZED (
  SELECT vi, c0, c1, c2, c3,
    CAST(SUM(c0) OVER w - c0 AS BIGINT) AS l0,
    CAST(SUM(c1) OVER w - c1 AS BIGINT) AS l1,
    CAST(SUM(c2) OVER w - c2 AS BIGINT) AS l2
  FROM wide WINDOW w AS (ORDER BY vi)
),
uacc AS (
  SELECT CAST(SUM(
      c1 * (2 * l0 + c0)
    + c2 * (2 * l0 + c0 + 2 * l1 + c1)
    + c3 * (2 * l0 + c0 + 2 * l1 + c1 + 2 * l2 + c2)
  ) AS BIGINT) AS u2
  FROM cum
),
gs AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN g = 0 THEN c END), 0) AS BIGINT) AS n0,
    CAST(COALESCE(SUM(CASE WHEN g = 1 THEN c END), 0) AS BIGINT) AS n1,
    CAST(COALESCE(SUM(CASE WHEN g = 2 THEN c END), 0) AS BIGINT) AS n2,
    CAST(COALESCE(SUM(CASE WHEN g = 3 THEN c END), 0) AS BIGINT) AS n3,
    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS nt,
    COALESCE(CAST(SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5))
         AS DOUBLE), 0.0) AS ag,
    COALESCE(CAST(SUM(CAST(c AS HUGEINT) * (c - 1) * (c - 2))
         AS DOUBLE), 0.0) AS bg,
    COALESCE(CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE), 0.0)
      AS cg
  FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY g)
),
ts_ AS (
  SELECT
    COALESCE(CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
         AS DOUBLE), 0.0) AS at_,
    COALESCE(CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
         AS DOUBLE), 0.0) AS bt,
    COALESCE(CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS DOUBLE), 0.0)
      AS ct
  FROM (SELECT vi, CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY vi)
),
stats AS (
  SELECT g.*, t.*,
    g.n0 * g.n1 + g.n0 * g.n2 + g.n0 * g.n3
      + g.n1 * g.n2 + g.n1 * g.n3 + g.n2 * g.n3 AS e2,
    (CAST(CAST(g.nt AS HUGEINT) * (g.nt - 1) * (2 * g.nt + 5)
          AS DOUBLE) - g.ag - t.at_) / 72.0
      + (g.bg * t.bt)
        / (36.0 * g.nt * (g.nt - 1) * (g.nt - 2))
      + (g.cg * t.ct) / (8.0 * g.nt * (g.nt - 1)) AS var_u
  FROM gs g CROSS JOIN ts_ t
)
SELECT grp.g AS grp, grp.n AS n_group, s.nt AS n_total,
  u.u2 AS u2_stat, CAST(s.e2 AS BIGINT) AS e2_null,
  s.var_u AS var_null,
  (CAST(u.u2 - s.e2 AS DOUBLE) / 2.0) / NULLIF(sqrt(s.var_u), 0.0)
    AS z_jt
FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY g) grp
CROSS JOIN uacc u CROSS JOIN stats s
"""


@query("event_value_jonckheere", oracle=_JT_ORACLE)
def q_event_value_jonckheere(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JONCKHEERE-TERPSTRA ordered-alternative test — does event value
    INCREASE monotonically across the four ordered time-of-day strata?
    The rank family's third member: KW asks "are the k groups
    different at all" (unordered), Mann-Kendall asks "does ONE series
    trend"; JT asks the ordered-k-sample question between them, and
    is strictly more powerful than KW when the alternative really is
    monotone — the dose-response / time-of-day shape.

    Exactness: U is the sum of pairwise Mann-Whitney counts between
    ordered group pairs, carried DOUBLED (ties count 1, strict wins
    2) so it stays integer; the cumulative-window restatement makes
    it ONE pass over the distinct-value census (U2 per value row =
    Σ_j c_j·Σ_{i<j}(2·cumLT_i + c_i), statically unrolled over the 4
    strata) instead of the textbook's O(n²) pair walk — the KS/EMD
    cross-product discipline.  Null mean E2 = Σ_{i<j} nᵢnⱼ is exact;
    the Hollander-Wolfe tie-corrected null variance folds its three
    cubic terms in 128-bit exact arithmetic (group census + tie
    census) before single casts; z is one closed-form double,
    NULLIF-guarded.

    Scale shape: one (value, stratum) census pass; the U walk is one
    ordered window over the DISTINCT-value census (pre-bin at 100 TB
    if the distinct census is large); group/tie moments are two
    4-row/census-row aggregations; everything else is scalar."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    cells = (
        e.select(
            F.expr("hour(ts) div 6").cast("bigint").alias("g"),
            F.round(F.col("value") * F.lit(10000.0))
            .cast("bigint")
            .alias("vi"),
        )
        .groupBy("vi", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    return _jt_from_cells(cells)


def _jt_from_cells(cells: DataFrame) -> DataFrame:
    """Jonckheere-Terpstra from a (vi, g, c) census — shared by the
    batch test and its streaming twin."""

    def gcol(i: int):
        return (
            F.coalesce(
                F.sum(F.when(F.col("g") == i, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
        )

    wide = cells.groupBy("vi").agg(
        gcol(0).alias("c0"),
        gcol(1).alias("c1"),
        gcol(2).alias("c2"),
        gcol(3).alias("c3"),
    )
    w = Window.orderBy("vi")
    cum = wide.select(
        "vi",
        "c0",
        "c1",
        "c2",
        "c3",
        (F.sum("c0").over(w) - F.col("c0")).cast("bigint").alias("l0"),
        (F.sum("c1").over(w) - F.col("c1")).cast("bigint").alias("l1"),
        (F.sum("c2").over(w) - F.col("c2")).cast("bigint").alias("l2"),
    )
    u2row = (
        F.col("c1") * (2 * F.col("l0") + F.col("c0"))
        + F.col("c2")
        * (2 * F.col("l0") + F.col("c0") + 2 * F.col("l1") + F.col("c1"))
        + F.col("c3")
        * (
            2 * F.col("l0")
            + F.col("c0")
            + 2 * F.col("l1")
            + F.col("c1")
            + 2 * F.col("l2")
            + F.col("c2")
        )
    )
    uacc = cum.agg(F.sum(u2row).cast("bigint").alias("u2"))
    d38 = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    gsize = cells.groupBy("g").agg(F.sum("c").cast("bigint").alias("c"))
    gs = gsize.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("g") == i, F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"n{i}")
            for i in range(4)
        ],
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("nt"),
        F.coalesce(
            F.sum(
                (d38(F.col("c")) * (F.col("c") - 1) * (2 * F.col("c") + 5))
            ).cast("double"),
            F.lit(0.0),
        ).alias("ag"),
        F.coalesce(
            F.sum(
                d38(F.col("c")) * (F.col("c") - 1) * (F.col("c") - 2)
            ).cast("double"),
            F.lit(0.0),
        ).alias("bg"),
        F.coalesce(
            F.sum(d38(F.col("c")) * (F.col("c") - 1)).cast("double"),
            F.lit(0.0),
        ).alias("cg"),
    )
    tsize = cells.groupBy("vi").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    ts_ = tsize.agg(
        F.coalesce(
            F.sum(
                d38(F.col("t")) * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("double"),
            F.lit(0.0),
        ).alias("at_"),
        F.coalesce(
            F.sum(
                d38(F.col("t")) * (F.col("t") - 1) * (F.col("t") - 2)
            ).cast("double"),
            F.lit(0.0),
        ).alias("bt"),
        F.coalesce(
            F.sum(d38(F.col("t")) * (F.col("t") - 1)).cast("double"),
            F.lit(0.0),
        ).alias("ct"),
    )
    e2 = (
        F.col("n0") * F.col("n1")
        + F.col("n0") * F.col("n2")
        + F.col("n0") * F.col("n3")
        + F.col("n1") * F.col("n2")
        + F.col("n1") * F.col("n3")
        + F.col("n2") * F.col("n3")
    )
    nt = F.col("nt")
    var_u = (
        (
            (d38(nt) * (nt - 1) * (2 * nt + 5)).cast("double")
            - F.col("ag")
            - F.col("at_")
        )
        / F.lit(72.0)
        + (F.col("bg") * F.col("bt"))
        / (F.lit(36.0) * nt * (nt - 1) * (nt - 2))
        + (F.col("cg") * F.col("ct")) / (F.lit(8.0) * nt * (nt - 1))
    )
    stats = gs.crossJoin(F.broadcast(ts_)).select(
        "nt", e2.alias("e2"), var_u.alias("var_u")
    )
    return (
        gsize.select(F.col("g").alias("grp"), F.col("c").alias("n_group"))
        .crossJoin(F.broadcast(uacc))
        .crossJoin(F.broadcast(stats))
        .select(
            "grp",
            "n_group",
            F.col("nt").alias("n_total"),
            F.col("u2").alias("u2_stat"),
            F.col("e2").cast("bigint").alias("e2_null"),
            F.col("var_u").alias("var_null"),
            (
                (F.col("u2") - F.col("e2")).cast("double")
                / F.lit(2.0)
                / F.nullif(F.sqrt(F.col("var_u")), F.lit(0.0))
            ).alias("z_jt"),
        )
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test + Wilson score intervals — the PROPORTION member
# of the test family (means have the z-test; rates get this pair)
# ---------------------------------------------------------------------------

_WILSON_Z = "1.96"  # 95% normal quantile, a literal both engines parse
# to the identical double

_WILSON_ORACLE = f"""
WITH e AS (
  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
         ELSE 'weekday' END AS grp,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
g AS MATERIALIZED (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(pur) AS BIGINT) AS x
  FROM e GROUP BY 1
),
w AS (
  SELECT grp, n, x,
    CAST(x AS DOUBLE) / n AS phat,
    (CAST(x AS DOUBLE) / n + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n))
      / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n) AS ctr,
    ({_WILSON_Z} / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n))
      * sqrt((CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) / n
             + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)) AS hw
  FROM g WHERE n > 0
),
tp AS (
  SELECT
    (SELECT CAST(x AS DOUBLE) / n FROM g WHERE grp = 'weekend')
      AS p1,
    (SELECT CAST(x AS DOUBLE) / n FROM g WHERE grp = 'weekday')
      AS p2,
    (SELECT n FROM g WHERE grp = 'weekend') AS n1,
    (SELECT n FROM g WHERE grp = 'weekday') AS n2,
    CAST((SELECT COALESCE(SUM(x), 0) FROM g) AS DOUBLE)
      / NULLIF(CAST((SELECT COALESCE(SUM(n), 0) FROM g) AS DOUBLE),
               0.0) AS pp
),
zz AS (
  SELECT (p1 - p2) / NULLIF(
      sqrt(pp * (1.0 - pp)
           * (1.0 / n1 + 1.0 / n2)), 0.0) AS z2p
  FROM tp
)
SELECT w.grp, w.n AS n_events, w.x AS n_purchases, w.phat,
  w.ctr - w.hw AS wilson_lo, w.ctr + w.hw AS wilson_hi,
  (SELECT z2p FROM zz) AS z_two_prop
FROM w
"""


@query("purchase_rate_wilson", oracle=_WILSON_ORACLE)
def q_purchase_rate_wilson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-PROPORTION z-test + WILSON score intervals for the weekend
    vs weekday purchase RATE — the proportion member of the test
    family (events_value_ztest answers "did the treatment move the
    MEAN"; conversion experiments ask "did it move the RATE", and the
    Wilson interval is the standard small-p-safe CI the naive Wald
    interval gets wrong near 0 and 1).

    Exactness: the 2×2 census is one conditional-sum pass; every
    downstream quantity (p̂, the pooled two-proportion z, the Wilson
    center (p̂ + z²/2n)/(1 + z²/n) and half-width) is one identical
    chain of correctly-rounded double ops over exact integer counts,
    with the 1.96 quantile a decimal literal both engines parse to
    the same double — no quantization needed anywhere, the
    events_value_ztest contract applied to rates.  NULLIF guards the
    degenerate all-one-group input.

    Scale shape: ONE map-side-combined 2-row census; everything after
    is scalar — the cheapest member of the family beside the mean
    z-test."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    g = (
        e.select(
            F.when(
                (F.dayofweek("ts") - 1).isin(0, 6), F.lit("weekend")
            )
            .otherwise(F.lit("weekday"))
            .alias("grp"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pur"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("pur").cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    zc = F.lit(1.96)
    n, x = F.col("n"), F.col("x")
    phat = x.cast("double") / n
    ctr = (phat + zc * zc / (F.lit(2.0) * n)) / (F.lit(1.0) + zc * zc / n)
    hw = (zc / (F.lit(1.0) + zc * zc / n)) * F.sqrt(
        phat * (F.lit(1.0) - phat) / n
        + zc * zc / (F.lit(4.0) * n * n)
    )
    w = g.filter(n > 0).select(
        "grp",
        n.alias("n"),
        x.alias("x"),
        phat.alias("phat"),
        ctr.alias("ctr"),
        hw.alias("hw"),
    )
    agg = g.agg(
        F.max(F.when(F.col("grp") == "weekend", phat)).alias("p1"),
        F.max(F.when(F.col("grp") == "weekday", phat)).alias("p2"),
        F.max(F.when(F.col("grp") == "weekend", n)).alias("n1"),
        F.max(F.when(F.col("grp") == "weekday", n)).alias("n2"),
        (
            F.coalesce(F.sum("x"), F.lit(0)).cast("double")
            / F.nullif(
                F.coalesce(F.sum("n"), F.lit(0)).cast("double"),
                F.lit(0.0),
            )
        ).alias("pp"),
    )
    z2p = (F.col("p1") - F.col("p2")) / F.nullif(
        F.sqrt(
            F.col("pp")
            * (F.lit(1.0) - F.col("pp"))
            * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
        ),
        F.lit(0.0),
    )
    zz = agg.select(z2p.alias("z2p"))
    return w.crossJoin(F.broadcast(zz)).select(
        "grp",
        F.col("n").alias("n_events"),
        F.col("x").alias("n_purchases"),
        "phat",
        (F.col("ctr") - F.col("hw")).alias("wilson_lo"),
        (F.col("ctr") + F.col("hw")).alias("wilson_hi"),
        F.col("z2p").alias("z_two_prop"),
    )


@query("stream_jonckheere", oracle=_JT_ORACLE)
def q_stream_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of event_value_jonckheere: events fold into
    additive (stratum, value) integer COUNT partials via the shared
    count-fold harness; the cumulative-window U walk and the
    tie-corrected moments run at drain on the merged census, so the
    streamed ordered-trend statistic is batch-identical under any
    batching/replay and the batch oracle is the ground truth verbatim.

    Scale shape: per trigger one map-side-combined count bounded by
    the batch's distinct (stratum, value) pairs; drain-side work is
    census-grain."""
    from ..streaming.pipeline import _run_stream_count_fold

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            F.expr("hour(ts) div 6").cast("bigint").alias("g"),
            F.round(F.col("value") * F.lit(10000.0))
            .cast("bigint")
            .alias("vi"),
        )
    )
    cells = (
        _run_stream_count_fold(spark, e, ["vi", "g"])
        .select("vi", "g", F.col("c").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    return _jt_from_cells(cells)
