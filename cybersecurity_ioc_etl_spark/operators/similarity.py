"""Vector similarity search over `embeddings` — north-star extension.

Brute-force cosine top-k is the baseline plan (TakeOrderedAndProject: a
per-partition heap, no global sort — the right shape even at 100 TB when
the query side is one vector).  The scale path for many-query workloads
is the LSH-bucketed variant at the bottom (random-hyperplane signatures,
same bucketing idea as dedup's MinHash bands).

Float-determinism: embedding components are quantized once to integer
mantissas at 10^7 (well beyond float32's precision), dot products and
norms accumulate as exact integers, and the final doubles come from
single int→double + power-of-ten divisions — identical in Spark and the
DuckDB oracle (see relational.py for why decimal accumulation was
rejected).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import run_legs
from ..sinks.bucketed import drop_table_and_location, write_bucketed
from ..sources.readers import fan_out_small_frame, load_table
from .registry import query

_S = 7  # mantissa scale: |x|<=1 → |xi|<=1e7; xi*yi<=1e14; 64-dim sum<=6.4e15 < 2^63


def _mi(x: Column) -> Column:
    return F.round(x * F.lit(float(10**_S))).cast("bigint")


def _dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<double> columns (scale 2*_S)."""
    prods = F.zip_with(a, b, lambda x, y: _mi(x) * _mi(y))
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _dot_double(a: Column, b: Column) -> Column:
    return _dot_int(a, b).cast("double") / F.lit(float(10 ** (2 * _S)))


_MI_SQL = "CAST(ROUND({x} * 10000000.0) AS BIGINT)"

# oracle-side: unnest-with-subscripts join, integer accumulation
_DOT_SQL = f"""
SELECT v.vec_id,
  CAST(SUM({_MI_SQL.format(x='v.x')} * {_MI_SQL.format(x='q.x')}) AS DOUBLE)
    / 100000000000000.0 AS dot_d,
  CAST(SUM({_MI_SQL.format(x='v.x')} * {_MI_SQL.format(x='v.x')}) AS DOUBLE)
    / 100000000000000.0 AS sq_v,
  CAST(SUM({_MI_SQL.format(x='q.x')} * {_MI_SQL.format(x='q.x')}) AS DOUBLE)
    / 100000000000000.0 AS sq_q
FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
             generate_subscripts(embedding, 1) AS i FROM embeddings) v
JOIN (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0) q
  ON v.i = q.i
GROUP BY v.vec_id
"""


@query(
    "knn_cosine_topk",
    oracle=f"""
WITH dots AS ({_DOT_SQL})
SELECT vec_id,
  round(dot_d / (sqrt(sq_v) * sqrt(sq_q)), 6) AS cosine_sim
FROM dots
WHERE vec_id != 0
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
""",
)
def q_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbours of vec_id=0.  Single narrow
    pass over embeddings + TakeOrderedAndProject; the one-row query side
    is a broadcast cross-join (no shuffle of the big side).

    NULL embeddings are filtered ahead of the math: the oracle's unnest
    yields no rows for them, while the array-lambda fold would keep the
    row with a NULL cosine (tools/null_probe.py finding)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # hoist the constant query sq-norm into the 1-row broadcast side (as
    # ann_bucketed_topk does): per corpus row only ONE 64-element fold
    # (v·qv) plus the v·v norm remains
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        _dot_double(F.col("v"), F.col("v")).alias("qsq"),
    )
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    sim = _dot_double(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot_double(F.col("v"), F.col("v"))) * F.sqrt(F.col("qsq"))
    )
    return (
        joined.select("vec_id", F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "vector_norms",
    oracle=f"""
SELECT vec_id, label,
  round(sqrt(CAST(SUM({_MI_SQL.format(x='x')} * {_MI_SQL.format(x='x')}) AS DOUBLE)
             / 100000000000000.0), 6) AS l2_norm,
  COUNT(*) AS dim
FROM (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
GROUP BY vec_id, label
""",
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + dimensionality — array aggregation exercise.
    NULL embeddings filter out (the oracle's unnest drops them; the
    array fold would keep a NULL-norm row)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    return e.select(
        "vec_id",
        "label",
        F.round(F.sqrt(_dot_double(F.col("v"), F.col("v"))), 6).alias("l2_norm"),
        F.size("v").cast("long").alias("dim"),
    )


@query(
    "label_centroid_norms",
    oracle=f"""
WITH comp AS (
  SELECT label, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
dim_means AS (
  SELECT label, i,
    CAST(SUM({_MI_SQL.format(x='x')}) AS DOUBLE) / 10000000.0 / COUNT(*) AS mean_x
  FROM comp GROUP BY label, i
)
SELECT label,
  round(sqrt(CAST(SUM({_MI_SQL.format(x='mean_x')} * {_MI_SQL.format(x='mean_x')}) AS DOUBLE)
             / 100000000000000.0), 6) AS centroid_norm,
  COUNT(*) AS dim
FROM dim_means GROUP BY label
""",
)
def q_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (mean vector) L2 norm: posexplode → per-(label,
    dim) exact mean → re-quantize → exact re-aggregation.  The 'cluster
    summary' shape of an IVF index build — the coarse-quantizer step."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    dim_means = e.groupBy("label", "i").agg(
        (F.sum(_mi(F.col("x"))).cast("double") / F.lit(1e7) / F.count("*")).alias(
            "mean_x"
        )
    )
    mq = _mi(F.col("mean_x"))
    return dim_means.groupBy("label").agg(
        F.round(
            F.sqrt(F.sum(mq * mq).cast("double") / F.lit(1e14)), 6
        ).alias("centroid_norm"),
        F.count("*").alias("dim"),
    )


@query(
    "embedding_neardup_pairs",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS x
  FROM embeddings WHERE vec_id < 300
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    SUM(a.x * b.x) AS dot_i, SUM(a.x * a.x) AS sq_a, SUM(b.x * b.x) AS sq_b
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b,
  round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_a AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_b AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM pairs
WHERE round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_a AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_b AS DOUBLE) / 100000000000000.0)), 6) >= 0.4
""",
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ 0.4 (bounded to
    vec_id<300 — the fixture has no true dup vectors, so the threshold
    sits at the top of the background-similarity distribution).  The
    filter applies to the ROUNDED value so the boundary set is identical
    in both engines.  At 100 TB the all-pairs join is replaced by the
    hyperplane-bucket candidates of `ann_hyperplane_buckets` — pairs are
    only generated within a bucket, exactly like MinHash banding."""
    # explode-join-aggregate form, NOT per-pair array lambdas: Spark's
    # higher-order functions run interpreted per element, so 45K pairs x
    # 64 dims of zip_with cost 6s where this fully-codegen'd shuffle
    # shape costs ~1s at sf0.1.  Self-norms aggregate once per vector;
    # the dimension-index join produces pair partial products that
    # map-side combine into the pair dot.
    comp = (
        load_table(spark, sf_dir, "embeddings", fan_out=True)
        .filter(F.col("vec_id") < 300)
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
    )
    sq = comp.groupBy("vec_id").agg(F.sum(F.col("xi") * F.col("xi")).alias("sq"))
    a, b = comp.alias("a"), comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(F.sum(F.col("a.xi") * F.col("b.xi")).alias("dot_i"))
    )
    sa, sb = sq.alias("sa"), sq.alias("sb")
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sa.sq").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sb.sq").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        dots.join(F.broadcast(sa), F.col("vec_a") == F.col("sa.vec_id"))
        .join(F.broadcast(sb), F.col("vec_b") == F.col("sb.vec_id"))
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.4)
    )


@query(
    "ivf_topk",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
cent AS (  -- coarse quantizer: per-(label, dim) exact integer mean, re-quantized
  SELECT label, i,
    {_MI_SQL.format(x=f"CAST(SUM({_MI_SQL.format(x='x')}) AS DOUBLE) / 10000000.0 / COUNT(*)")} AS cx
  FROM comp GROUP BY label, i
),
qv AS (SELECT i, {_MI_SQL.format(x='x')} AS qx FROM comp WHERE vec_id = 0),
probe AS (  -- nearest centroid to the query (nprobe = 1)
  SELECT c.label
  FROM cent c JOIN qv ON c.i = qv.i
  GROUP BY c.label
  ORDER BY CAST(SUM(c.cx * qv.qx) AS DOUBLE)
           / sqrt(CAST(SUM(c.cx * c.cx) AS DOUBLE)) DESC, c.label
  LIMIT 1
),
cell AS (  -- fine search confined to the probed cell
  SELECT v.vec_id, v.label,
    SUM({_MI_SQL.format(x='v.x')} * qv.qx) AS dot_i,
    SUM({_MI_SQL.format(x='v.x')} * {_MI_SQL.format(x='v.x')}) AS sq_v,
    SUM(qv.qx * qv.qx) AS sq_q
  FROM comp v JOIN qv ON v.i = qv.i
  WHERE v.label = (SELECT label FROM probe) AND v.vec_id != 0
  GROUP BY v.vec_id, v.label
)
SELECT vec_id, label,
  round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_v AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_q AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM cell
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
""",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: build per-label centroids (coarse
    quantizer), route the query vector to its nearest centroid
    (nprobe=1), brute-force cosine only within that cell.

    This is THE 100 TB many-query ANN plan: the centroid table is tiny
    (k × dim) and broadcast; the big side is partitioned by cell id, so
    a query touches 1/k of the data and the per-cell top-k is a
    TakeOrderedAndProject, never a global sort."""
    comp = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    cent = comp.groupBy("label", "i").agg(
        _mi(F.sum(_mi(F.col("x"))).cast("double") / F.lit(1e7) / F.count("*")).alias("cx")
    )
    qv = comp.filter(F.col("vec_id") == 0).select("i", _mi(F.col("x")).alias("qx"))
    probe = (
        cent.join(F.broadcast(qv), "i")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx")).cast("double")
                / F.sqrt(F.sum(F.col("cx") * F.col("cx")).cast("double"))
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("label"))
        .limit(1)
        .select("label")
    )
    cell = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), "label")
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(_mi(F.col("x")) * F.col("qx")).alias("dot_i"),
            F.sum(_mi(F.col("x")) * _mi(F.col("x"))).alias("sq_v"),
            F.sum(F.col("qx") * F.col("qx")).alias("sq_q"),
        )
    )
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sq_v").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sq_q").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        cell.select("vec_id", "label", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "ann_hyperplane_buckets",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
signs AS (
  SELECT vec_id,
    SUM(CASE WHEN i % 2 = 0 THEN {_MI_SQL.format(x='x')}
             ELSE -{_MI_SQL.format(x='x')} END) AS proj_a,
    SUM(CASE WHEN i % 3 = 0 THEN {_MI_SQL.format(x='x')}
             ELSE -{_MI_SQL.format(x='x')} END) AS proj_b
  FROM comp GROUP BY vec_id
)
SELECT (CASE WHEN proj_a > 0 THEN 2 ELSE 0 END
      + CASE WHEN proj_b > 0 THEN 1 ELSE 0 END) AS bucket,
  COUNT(*) AS n_vectors
FROM signs GROUP BY 1
""",
)
def q_ann_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (sign of fixed ±1 projections) —
    the scale path for ANN: at 100 TB, candidate search happens within a
    bucket (shuffle on a small int key), not across all vectors.
    fan_out: the 64-way posexplode + per-component sums are CPU-bound
    and single-row-group inputs serialize them (4.8s -> <1s at sf0.1)."""
    e = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    # DuckDB's generate_subscripts is 1-based; posexplode is 0-based —
    # shift so the ±1 sign patterns match exactly.
    i1 = F.col("i") + 1
    xi = _mi(F.col("x"))
    signs = e.groupBy("vec_id").agg(
        F.sum(F.when((i1 % 2) == 0, xi).otherwise(-xi)).alias("proj_a"),
        F.sum(F.when((i1 % 3) == 0, xi).otherwise(-xi)).alias("proj_b"),
    )
    return (
        signs.select(
            (
                F.when(F.col("proj_a") > 0, F.lit(2)).otherwise(F.lit(0))
                + F.when(F.col("proj_b") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


_ANN_BUCKETED_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
signs AS (
  SELECT vec_id,
    SUM(CASE WHEN i % 2 = 0 THEN xi ELSE -xi END) AS proj_a,
    SUM(CASE WHEN i % 3 = 0 THEN xi ELSE -xi END) AS proj_b,
    SUM(xi * xi) AS sq
  FROM comp GROUP BY vec_id
),
meta AS (
  SELECT vec_id,
    (CASE WHEN proj_a > 0 THEN 2 ELSE 0 END
   + CASE WHEN proj_b > 0 THEN 1 ELSE 0 END) AS bucket,
    sq
  FROM signs
),
dots AS (
  SELECT q.vec_id AS qid, d.vec_id AS vec_id, dm.sq AS sq, qm.sq AS qsq,
         SUM(d.xi * q.xi) AS dot_i
  FROM comp d
  JOIN meta dm ON d.vec_id = dm.vec_id
  JOIN comp q ON q.i = d.i AND q.vec_id < 4
  JOIN meta qm ON q.vec_id = qm.vec_id AND qm.bucket = dm.bucket
  WHERE d.vec_id >= 4
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT qid, vec_id,
    round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
          / (sqrt(CAST(sq AS DOUBLE) / 100000000000000.0)
           * sqrt(CAST(qsq AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
  FROM dots
)
SELECT qid, vec_id, rnk, cosine_sim FROM (
  SELECT qid, vec_id, cosine_sim,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY cosine_sim DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


def _ann_comp_meta(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(comp, meta): exploded integer components + per-vector (bucket,
    sq-norm) — the shared substrate of every bucketed-ANN frame."""
    comp = (
        e.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        # DuckDB's generate_subscripts is 1-based; posexplode 0-based
        .select("vec_id", (F.col("i") + 1).alias("i"), _mi(F.col("x")).alias("xi"))
    )
    xi = F.col("xi")
    signs = comp.groupBy("vec_id").agg(
        F.sum(F.when((F.col("i") % 2) == 0, xi).otherwise(-xi)).alias("proj_a"),
        F.sum(F.when((F.col("i") % 3) == 0, xi).otherwise(-xi)).alias("proj_b"),
        F.sum(xi * xi).alias("sq"),
    )
    meta = signs.select(
        "vec_id",
        (
            F.when(F.col("proj_a") > 0, F.lit(2)).otherwise(F.lit(0))
            + F.when(F.col("proj_b") > 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("bucket"),
        "sq",
    )
    return comp, meta


# The bucketed-ANN query batch is vec_id < _ANN_N_QUERIES of the corpus
# frame; every ANN row answers it with the top _ANN_K.
_ANN_N_QUERIES = 4
_ANN_K = 10


def _ann_candidates_from(
    comp: DataFrame, meta: DataFrame, bucket_match: bool
) -> DataFrame:
    """Candidate pairs with exact integer dot products — one row per
    (qid, vec_id) with sq/qsq/dot_i ready for scoring.  With
    ``bucket_match`` a candidate is a corpus vector sharing the query's
    hyperplane bucket, so candidate volume per query is corpus/2^bits in
    expectation and every non-candidate is eliminated by the bucket
    equi-join BEFORE any pair row exists.  Without it the candidates are
    brute force over the full corpus: the bounded ground truth the
    recall audit (``ann_recall_audit``) scores the bucketed plan
    against, never a serving path."""
    qside = (
        comp.filter(F.col("vec_id") < _ANN_N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("i").alias("qi"), F.col("xi").alias("qxi"))
        .join(
            meta.filter(F.col("vec_id") < _ANN_N_QUERIES).select(
                F.col("vec_id").alias("qid"),
                F.col("bucket").alias("qbucket"),
                F.col("sq").alias("qsq"),
            ),
            "qid",
        )
    )
    data = comp.filter(F.col("vec_id") >= _ANN_N_QUERIES).join(
        F.broadcast(meta.select("vec_id", "bucket", "sq")), "vec_id"
    )
    cond = F.col("i") == F.col("qi")
    if bucket_match:
        cond = cond & (F.col("bucket") == F.col("qbucket"))
    return (
        data.join(F.broadcast(qside), cond)
        .groupBy("qid", "vec_id", "sq", "qsq")
        .agg(F.sum(F.col("xi") * F.col("qxi")).alias("dot_i"))
    )


def ann_bucketed_topk_frame(e: DataFrame) -> DataFrame:
    """Bucketed top-``_ANN_K`` of the ``_ANN_N_QUERIES`` query vectors of
    a plain (vec_id, embedding) frame — the plan of ``ann_bucketed_topk``
    and of the streaming ANN serve."""
    comp, meta = _ann_comp_meta(e)
    return _ann_score_topk(_ann_candidates_from(comp, meta, True), _ANN_K)


def _ann_score_topk(dots: DataFrame, k: int) -> DataFrame:
    """Rounded-cosine scoring + per-query top-k window over a
    candidates frame (qid, vec_id, sq, qsq, dot_i)."""
    from pyspark.sql import Window

    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sq").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("qsq").cast("double") / F.lit(1e14))
        ),
        6,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        dots.select("qid", "vec_id", cos.alias("cosine_sim"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "rnk", "cosine_sim")
    )


@query("ann_bucketed_topk", oracle=_ANN_BUCKETED_ORACLE)
def q_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-query ANN end-to-end: hyperplane-bucket the corpus AND the
    query batch (vec_id<4), generate candidates only where buckets
    match, exact cosine within the bucket, per-query top-10 via a
    row_number window partitioned by query id.

    The 100 TB contract: the query batch + per-vector metadata are
    broadcast, the big side is touched once and filtered to matching
    buckets BEFORE the pair products exist, and the final top-k is a
    window over per-query groups (shuffle keyed on qid, never a global
    sort).  Candidates scale as corpus/2^bits per query, not corpus —
    measured on cloned corpora in SCALE.md (72ef586:tools/ann_probe.py)."""
    return ann_bucketed_topk_frame(
        load_table(spark, sf_dir, "embeddings", fan_out=True)
    )


_ANN_RECALL_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
signs AS (
  SELECT vec_id,
    SUM(CASE WHEN i % 2 = 0 THEN xi ELSE -xi END) AS proj_a,
    SUM(CASE WHEN i % 3 = 0 THEN xi ELSE -xi END) AS proj_b,
    SUM(xi * xi) AS sq
  FROM comp GROUP BY vec_id
),
meta AS (
  SELECT vec_id,
    (CASE WHEN proj_a > 0 THEN 2 ELSE 0 END
   + CASE WHEN proj_b > 0 THEN 1 ELSE 0 END) AS bucket,
    sq
  FROM signs
),
alldots AS (  -- brute-force ground truth: NO bucket constraint
  SELECT q.vec_id AS qid, d.vec_id AS vec_id, dm.sq AS sq, qm.sq AS qsq,
         SUM(d.xi * q.xi) AS dot_i
  FROM comp d
  JOIN meta dm ON d.vec_id = dm.vec_id
  JOIN comp q ON q.i = d.i AND q.vec_id < 4
  JOIN meta qm ON q.vec_id = qm.vec_id
  WHERE d.vec_id >= 4
  GROUP BY 1, 2, 3, 4
),
true_topk AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
              / (sqrt(CAST(sq AS DOUBLE) / 100000000000000.0)
               * sqrt(CAST(qsq AS DOUBLE) / 100000000000000.0)), 6) DESC,
        vec_id) AS rnk
    FROM alldots
  ) WHERE rnk <= 10
),
anndots AS (  -- the bucketed plan under audit
  SELECT q.vec_id AS qid, d.vec_id AS vec_id, dm.sq AS sq, qm.sq AS qsq,
         SUM(d.xi * q.xi) AS dot_i
  FROM comp d
  JOIN meta dm ON d.vec_id = dm.vec_id
  JOIN comp q ON q.i = d.i AND q.vec_id < 4
  JOIN meta qm ON q.vec_id = qm.vec_id AND qm.bucket = dm.bucket
  WHERE d.vec_id >= 4
  GROUP BY 1, 2, 3, 4
),
ann_topk AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
              / (sqrt(CAST(sq AS DOUBLE) / 100000000000000.0)
               * sqrt(CAST(qsq AS DOUBLE) / 100000000000000.0)), 6) DESC,
        vec_id) AS rnk
    FROM anndots
  ) WHERE rnk <= 10
),
annc AS (SELECT qid, COUNT(*) AS n_ann FROM ann_topk GROUP BY qid),
hits AS (
  SELECT t.qid, COUNT(*) AS n_true,
    CAST(COALESCE(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 END), 0) AS BIGINT)
      AS n_hit
  FROM true_topk t
  LEFT JOIN ann_topk a ON t.qid = a.qid AND t.vec_id = a.vec_id
  GROUP BY t.qid
)
SELECT h.qid, h.n_true,
  CAST(COALESCE(c.n_ann, 0) AS BIGINT) AS n_ann,
  h.n_hit,
  CAST(h.n_hit AS DOUBLE) / h.n_true AS recall
FROM hits h LEFT JOIN annc c ON h.qid = c.qid
"""


@query("ann_recall_audit", oracle=_ANN_RECALL_ORACLE)
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN family auditing ITSELF (VERDICT r4 ask #3), mirroring
    dedup's banding_recall_audit: on the bounded slice where brute-force
    top-10 is affordable, measure per query what fraction of the TRUE
    top-10 neighbours the hyperplane-bucketed plan recovers.  recall =
    |ann_top10 ∩ true_top10| / 10, with n_ann < 10 exposing queries
    whose bucket held fewer than 10 candidates at all.

    The recall dial is documented by the sibling queries: more buckets
    (bits) cut candidates per query (corpus/2^bits) and recall with
    them; multiprobe (ivf_multiprobe_topk's nprobe) buys recall back by
    scanning neighbouring cells.  At 100 TB this audit runs exactly as
    here — on a sampled query batch against a bounded corpus slice —
    and its output is the tuning table for those two levers.

    Engine-identical: both top-10 lists rank rounded integer-mantissa
    cosines with vec_id tie-breaks (total order), so the intersection
    counts — and therefore recall, one exact int÷int IEEE division —
    match bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    # one candidate generation serves BOTH sides: the bucketed pair set
    # is a subset of the brute-force one with identical dot/sq values,
    # so the audited plan's candidates are a broadcast bucket FILTER on
    # the already-aggregated pair frame — the per-dimension join runs
    # once (measured 1.83 -> ~1.1 s at sf0.1; the oracle still states
    # the bucketed side as its own join, same rows by construction)
    comp, meta = _ann_comp_meta(e)
    comp = comp.localCheckpoint(eager=True)
    meta = meta.localCheckpoint(eager=True)
    alldots = _ann_candidates_from(comp, meta, False).localCheckpoint(
        eager=True
    )
    true_k = _ann_score_topk(alldots, _ANN_K)
    dmeta = meta.select("vec_id", "bucket")
    qmeta = meta.select(
        F.col("vec_id").alias("qid"), F.col("bucket").alias("qbucket")
    )
    ann_dots = (
        alldots.join(F.broadcast(dmeta), "vec_id")
        .join(F.broadcast(qmeta), "qid")
        .filter(F.col("bucket") == F.col("qbucket"))
        .select("qid", "vec_id", "sq", "qsq", "dot_i")
    )
    ann_k = _ann_score_topk(ann_dots, _ANN_K)
    # ann side is referenced twice (hit join + per-query count): its
    # candidate generation is the expensive part, materialize once
    ann_ids = ann_k.select("qid", "vec_id").localCheckpoint(eager=True)
    annc = ann_ids.groupBy("qid").agg(F.count("*").alias("n_ann"))
    hits = (
        true_k.select("qid", "vec_id")
        .join(ann_ids.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_true"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    return (
        hits.join(F.broadcast(annc), "qid", "left")
        .select(
            "qid",
            "n_true",
            F.coalesce(F.col("n_ann"), F.lit(0)).cast("bigint").alias("n_ann"),
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_true")).alias("recall"),
        )
    )


@query(
    "embedding_int8_quantize",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
stats AS (
  SELECT vec_id, MIN(xi) AS mn, MAX(xi) AS mx FROM comp GROUP BY vec_id
)
SELECT c.vec_id,
  CAST(SUM(CASE WHEN s.mx = s.mn THEN 0
       ELSE CAST(ROUND((c.xi - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT) END)
     AS BIGINT) AS qsum,
  CAST(s.mn AS DOUBLE) / 10000000.0 AS vmin,
  CAST(s.mx AS DOUBLE) / 10000000.0 AS vmax,
  COUNT(*) AS dim
FROM comp c JOIN stats s ON c.vec_id = s.vec_id
GROUP BY c.vec_id, s.mn, s.mx
""",
)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0-255) min-max quantization — the compression
    step a trillion-vector store applies before indexing (4x smaller
    than float32, distance error bounded by the per-vector range).
    Computed on integer mantissas so the scale arithmetic is identical
    in both engines; the oracle checks the quantized-value checksum,
    range, and dimensionality.  One narrow pass: min/max/quantize/sum
    all happen inside a single per-row array fold — no shuffle at all.
    NULL embeddings filter out (the oracle's unnest drops them)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    xi = F.transform(F.col("v"), _mi)
    mn = F.array_min(xi)
    mx = F.array_max(xi)
    q = F.transform(
        xi,
        lambda x: F.when(mx == mn, F.lit(0).cast("bigint")).otherwise(
            F.round((x - mn) * F.lit(255.0) / (mx - mn)).cast("bigint")
        ),
    )
    return e.select(
        "vec_id",
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, b: a + b).alias("qsum"),
        (mn.cast("double") / F.lit(1e7)).alias("vmin"),
        (mx.cast("double") / F.lit(1e7)).alias("vmax"),
        F.size("v").cast("bigint").alias("dim"),
    )


_KMEANS_K = 8

_KMEANS_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent AS (  -- deterministic init: centroid j = vector j
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),
sqc AS (SELECT cid, SUM(ci * ci) AS sq_c FROM cent GROUP BY cid),
dots AS (
  SELECT v.vec_id, c.cid, SUM(v.xi * c.ci) AS dot_i
  FROM comp v JOIN cent c ON v.i = c.i
  GROUP BY 1, 2
),
assign AS (  -- argmin_c ||v-c||^2 = argmin_c (sq_c - 2*dot); ties -> low cid
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY s.sq_c - 2 * d.dot_i, cid) AS rn
    FROM dots d JOIN sqc s USING (cid)
  ) WHERE rn = 1
),
counts AS (SELECT cid, COUNT(*) AS n_members FROM assign GROUP BY cid),
means AS (  -- Lloyd update: exact per-dimension mean of assigned vectors
  SELECT a.cid, c.i,
    CAST(SUM(c.xi) AS DOUBLE) / 10000000.0 / COUNT(*) AS mean_x
  FROM assign a JOIN comp c ON a.vec_id = c.vec_id
  GROUP BY a.cid, c.i
)
SELECT m.cid, n.n_members,
  round(sqrt(CAST(SUM({_MI_SQL.format(x='m.mean_x')} * {_MI_SQL.format(x='m.mean_x')})
                  AS DOUBLE) / 100000000000000.0), 6) AS new_centroid_norm
FROM means m JOIN counts n ON m.cid = n.cid
GROUP BY m.cid, n.n_members
"""


def _lloyd_round(
    comp: DataFrame, cent: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One Lloyd iteration on integer-mantissa components.

    ``comp`` is (vec_id, i, xi) exploded vectors, ``cent`` is (cid, i, ci)
    integer centroid components (k·dim rows — always broadcast).  Returns
    (assign, counts, means): the argmin assignment compares EXACT integers
    (sq_c - 2·dot, ties to the lower cid), so it is engine-identical; the
    per-dimension means are exact-int sums divided once into doubles.
    The two shuffles — (vec_id, cid) partial dots and (cid, i) partial
    sums — are both map-side combined; iterating re-quantizes the means
    with _mi and feeds them back as the next ``cent``."""
    sqc = cent.groupBy("cid").agg(F.sum(F.col("ci") * F.col("ci")).alias("sq_c"))
    dots = (
        comp.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("xi") * F.col("ci")).alias("dot_i"))
    )
    dist = F.col("sq_c") - F.lit(2) * F.col("dot_i")
    assign = (
        dots.join(F.broadcast(sqc), "cid")
        .groupBy("vec_id")
        .agg(F.min(F.struct(dist.alias("d"), F.col("cid"))).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid"))
    )
    counts = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    means = (
        assign.join(comp, "vec_id")
        .groupBy("cid", "i")
        .agg(
            (F.sum("xi").cast("double") / F.lit(1e7) / F.count("*")).alias("mean_x")
        )
    )
    return assign, counts, means


def _centroid_norms(means: DataFrame, counts: DataFrame) -> DataFrame:
    """(cid, n_members, new_centroid_norm) from per-dimension means."""
    mq = _mi(F.col("mean_x"))
    return (
        means.groupBy("cid")
        .agg(
            F.round(F.sqrt(F.sum(mq * mq).cast("double") / F.lit(1e14)), 6).alias(
                "new_centroid_norm"
            )
        )
        .join(F.broadcast(counts), "cid")
        .select("cid", "n_members", "new_centroid_norm")
    )


@query("kmeans_lloyd_step", oracle=_KMEANS_ORACLE)
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus: assign
    every vector to its nearest of k=8 deterministic seed centroids
    (centroid j := vector j), then recompute each cluster's mean vector —
    the index-build / clustering primitive under IVF and semantic dedup.
    Output per cluster: member count and the updated centroid's L2 norm,
    all on the integer-mantissa contract (assignment distances compare
    EXACT integers, so the argmin — and therefore every count — is
    engine-identical; ties break to the lower centroid id).

    Scale shape: the centroid side is k rows — broadcast — so assignment
    is a map-side join; the only shuffles touch (vec_id, cid) partial
    dots and (cid, dim) partial sums, both map-side combined.  Iterating
    means re-running with `cent` replaced by the previous output plus
    localCheckpoint per round, exactly like dedup.connected_components.

    Spark uses min(struct(dist, cid)) for the argmin; the oracle states
    it as ROW_NUMBER ordered by (dist, cid) — same total order."""
    comp = _kmeans_comp(spark, sf_dir)
    cent = (
        comp.filter(F.col("vec_id") < _KMEANS_K)
        .select(F.col("vec_id").alias("cid"), "i", F.col("xi").alias("ci"))
    )
    _, counts, means = _lloyd_round(comp, cent)
    return _centroid_norms(means, counts)


def _kmeans_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded integer components, materialized ONCE: the round body
    references comp from the centroid seed, the dots join, and the means
    join — without the checkpoint the explode+quantize scan re-executes
    per reference per round (measured ~30% of kmeans wall at sf0.1)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
        .localCheckpoint(eager=True)
    )


# one Lloyd round as SQL CTEs, parameterized on the centroid CTE name and
# a suffix — the two-round oracle unrolls this exactly the way the
# pagerank oracle unrolls its iteration CTEs
def _lloyd_round_sql(s: str, cent: str, comp: str = "comp") -> str:
    return f"""
sqc{s} AS (SELECT cid, SUM(ci * ci) AS sq_c FROM {cent} GROUP BY cid),
dots{s} AS (
  SELECT v.vec_id, c.cid, SUM(v.xi * c.ci) AS dot_i
  FROM {comp} v JOIN {cent} c ON v.i = c.i
  GROUP BY 1, 2
),
assign{s} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY s.sq_c - 2 * d.dot_i, cid) AS rn
    FROM dots{s} d JOIN sqc{s} s USING (cid)
  ) WHERE rn = 1
),
counts{s} AS (SELECT cid, COUNT(*) AS n_members FROM assign{s} GROUP BY cid),
means{s} AS (
  SELECT a.cid, c.i,
    CAST(SUM(c.xi) AS DOUBLE) / 10000000.0 / COUNT(*) AS mean_x
  FROM assign{s} a JOIN {comp} c ON a.vec_id = c.vec_id
  GROUP BY a.cid, c.i
)"""


_KMEANS2_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),{_lloyd_round_sql('', 'cent')},
cent2 AS (  -- re-quantize round-1 means to integer mantissas
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means
),{_lloyd_round_sql('2', 'cent2')}
SELECT m.cid, n.n_members,
  round(sqrt(CAST(SUM({_MI_SQL.format(x='m.mean_x')} * {_MI_SQL.format(x='m.mean_x')})
                  AS DOUBLE) / 100000000000000.0), 6) AS new_centroid_norm
FROM means2 m JOIN counts2 n ON m.cid = n.cid
GROUP BY m.cid, n.n_members
"""


@query("kmeans_two_rounds", oracle=_KMEANS2_ORACLE)
def q_kmeans_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO composed Lloyd iterations — proves the step iterates, which is
    what an IVF index build actually runs.  Round-1 means are re-quantized
    to integer mantissas (one _mi per component, both engines) and fed
    back as round-2 centroids, so round-2's argmin again compares exact
    integers and every member count is engine-identical.

    Loop discipline is dedup.connected_components': the tiny (k·dim)
    round-1 centroid frame is localCheckpoint-ed between rounds, so
    round 2's plan starts from a materialized leaf instead of replaying
    round 1 once per downstream reference (counts + means + norms would
    otherwise each re-run it); at n rounds the checkpoint cadence also
    bounds plan depth exactly as in pagerank."""
    comp = _kmeans_comp(spark, sf_dir)
    cent = (
        comp.filter(F.col("vec_id") < _KMEANS_K)
        .select(F.col("vec_id").alias("cid"), "i", F.col("xi").alias("ci"))
    )
    _, _, means1 = _lloyd_round(comp, cent)
    cent2 = means1.select(
        "cid", "i", _mi(F.col("mean_x")).alias("ci")
    ).localCheckpoint(eager=True)
    _, counts2, means2 = _lloyd_round(comp, cent2)
    return _centroid_norms(means2, counts2)


def _trained_inverted_file(
    comp: DataFrame, cent3: DataFrame | None = None
) -> DataFrame:
    """(vec_id, cid): every vector's assignment under the TRAINED coarse
    quantizer — two Lloyd rounds from the deterministic seed, quantized
    round-2 means, one final assignment pass.  Checkpointed: it IS the
    index, and every consumer (probe, membership, PQ serving) reads it.
    Pass a pre-trained (checkpointed) ``cent3`` to reuse the training —
    build_ivfpq_index persists those same centroids as the routing
    table, and retraining them for the assignment pass would double the
    Lloyd work."""
    if cent3 is None:
        cent3 = _trained_centroids(comp).localCheckpoint(eager=True)
    assign3, _, _ = _lloyd_round(comp, cent3)
    return assign3.localCheckpoint(eager=True)


_IVF_TRAINED_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),{_lloyd_round_sql('', 'cent')},
cent2 AS (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means
),{_lloyd_round_sql('2', 'cent2')},
cent3 AS (  -- the TRAINED coarse quantizer: quantized round-2 means
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means2
),{_lloyd_round_sql('3', 'cent3')},
qv AS (SELECT i, xi AS qx FROM comp WHERE vec_id = 0),
cell AS (  -- fine search confined to the query's own trained cell
  SELECT v.vec_id, a.cid,
    SUM(v.xi * qv.qx) AS dot_i,
    SUM(v.xi * v.xi) AS sq_v,
    SUM(qv.qx * qv.qx) AS sq_q
  FROM comp v
  JOIN assign3 a ON v.vec_id = a.vec_id
  JOIN qv ON v.i = qv.i
  WHERE a.cid = (SELECT cid FROM assign3 WHERE vec_id = 0)
    AND v.vec_id != 0
  GROUP BY 1, 2
)
SELECT vec_id, cid,
  round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_v AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_q AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM cell
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


@query("ivf_trained_topk", oracle=_IVF_TRAINED_ORACLE)
def q_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED train→index→serve loop (VERDICT r4 ask #2): two Lloyd
    rounds train the coarse quantizer (exactly kmeans_two_rounds),
    every vector is assigned to its nearest TRAINED centroid — that
    assignment IS the inverted file — and the query (vec_id=0) is
    served from its own cell by exact-integer cosine top-10.  ivf_topk
    routes via first-k seed centroids; this is what a real 100 TB
    vector store runs instead: the index build is the clustering loop.

    Routing and cell membership use the SAME metric (exact-integer L2
    argmin, ties to the lower cid), so the query's probe cell is just
    its own inverted-file entry — one broadcast row, no second scoring
    path to keep consistent.

    Scale shape: training is kmeans_two_rounds' plan (k·dim centroid
    frames broadcast, both shuffles map-side combined); the inverted
    file is checkpointed once (at 100 TB it is written next to the
    vectors — it IS the index), cell members are pruned by a broadcast
    semi-join on cid BEFORE any per-dimension work, and the final
    top-10 is TakeOrderedAndProject."""
    comp = _kmeans_comp(spark, sf_dir)
    assign3 = _trained_inverted_file(comp)
    probe = assign3.filter(F.col("vec_id") == 0).select("cid")
    members = assign3.filter(F.col("vec_id") != 0).join(
        F.broadcast(probe), "cid"
    )
    qv = comp.filter(F.col("vec_id") == 0).select("i", F.col("xi").alias("qx"))
    cell = (
        comp.join(members, "vec_id")
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(F.col("xi") * F.col("qx")).alias("dot_i"),
            F.sum(F.col("xi") * F.col("xi")).alias("sq_v"),
            F.sum(F.col("qx") * F.col("qx")).alias("sq_q"),
        )
    )
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sq_v").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sq_q").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        cell.select("vec_id", "cid", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_NPROBE = 2

_IVF_MULTIPROBE_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
cent AS (
  SELECT label, i,
    {_MI_SQL.format(x=f"CAST(SUM({_MI_SQL.format(x='x')}) AS DOUBLE) / 10000000.0 / COUNT(*)")} AS cx
  FROM comp GROUP BY label, i
),
qv AS (SELECT i, {_MI_SQL.format(x='x')} AS qx FROM comp WHERE vec_id = 0),
probe AS (  -- nprobe = {_NPROBE}: the 2 nearest cells
  SELECT c.label
  FROM cent c JOIN qv ON c.i = qv.i
  GROUP BY c.label
  ORDER BY CAST(SUM(c.cx * qv.qx) AS DOUBLE)
           / sqrt(CAST(SUM(c.cx * c.cx) AS DOUBLE)) DESC, c.label
  LIMIT {_NPROBE}
),
cell AS (
  SELECT v.vec_id, v.label,
    SUM({_MI_SQL.format(x='v.x')} * qv.qx) AS dot_i,
    SUM({_MI_SQL.format(x='v.x')} * {_MI_SQL.format(x='v.x')}) AS sq_v,
    SUM(qv.qx * qv.qx) AS sq_q
  FROM comp v JOIN qv ON v.i = qv.i
  WHERE v.label IN (SELECT label FROM probe) AND v.vec_id != 0
  GROUP BY v.vec_id, v.label
)
SELECT vec_id, label,
  round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_v AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_q AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM cell
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


@query("ivf_multiprobe_topk", oracle=_IVF_MULTIPROBE_ORACLE)
def q_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 — the recall lever: scan the 2 nearest cells
    instead of 1 (cost grows to nprobe/k of the corpus, recall loss from
    boundary vectors shrinks).  Same broadcast-probe plan shape as
    ivf_topk; only the probe LIMIT and the cell semi-join widen."""
    comp = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    cent = comp.groupBy("label", "i").agg(
        _mi(F.sum(_mi(F.col("x"))).cast("double") / F.lit(1e7) / F.count("*")).alias("cx")
    )
    qv = comp.filter(F.col("vec_id") == 0).select("i", _mi(F.col("x")).alias("qx"))
    probe = (
        cent.join(F.broadcast(qv), "i")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx")).cast("double")
                / F.sqrt(F.sum(F.col("cx") * F.col("cx")).cast("double"))
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("label"))
        .limit(_NPROBE)
        .select("label")
    )
    cell = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), "label")
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(_mi(F.col("x")) * F.col("qx")).alias("dot_i"),
            F.sum(_mi(F.col("x")) * _mi(F.col("x"))).alias("sq_v"),
            F.sum(F.col("qx") * F.col("qx")).alias("sq_q"),
        )
    )
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sq_v").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sq_q").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        cell.select("vec_id", "label", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_LSH_PRIMES = (2, 3, 5, 7, 11, 13, 17, 19)  # deterministic pseudo-hyperplanes

_LSH_PROJ_SQL = ",\n    ".join(
    f"SUM(CASE WHEN i % {p} = 0 THEN {_MI_SQL.format(x='x')} "
    f"ELSE -{_MI_SQL.format(x='x')} END) AS proj_{j}"
    for j, p in enumerate(_LSH_PRIMES)
)
_LSH_BUCKET_SQL = " + ".join(
    f"CASE WHEN proj_{j} > 0 THEN {1 << j} ELSE 0 END"
    for j in range(len(_LSH_PRIMES))
)

_LSH_PAIRS_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
signs AS (
  SELECT vec_id,
    {_LSH_PROJ_SQL}
  FROM comp GROUP BY vec_id
),
buckets AS (
  SELECT vec_id, ({_LSH_BUCKET_SQL}) AS bucket FROM signs
),
mcomp AS (
  SELECT c.vec_id, b.bucket, c.i, {_MI_SQL.format(x='c.x')} AS xi
  FROM comp c JOIN buckets b ON c.vec_id = b.vec_id
),
sq AS (SELECT vec_id, SUM(xi * xi) AS s FROM mcomp GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
    SUM(a.xi * b.xi) AS dot_i
  FROM mcomp a
  JOIN mcomp b ON a.bucket = b.bucket AND a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
)
SELECT p.vec_a, p.vec_b, p.bucket,
  round((CAST(p.dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sa.s AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sb.s AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM pairs p
JOIN sq sa ON p.vec_a = sa.vec_id
JOIN sq sb ON p.vec_b = sb.vec_id
WHERE round((CAST(p.dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sa.s AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sb.s AS DOUBLE) / 100000000000000.0)), 6) >= 0.2
"""


@query("embedding_lsh_neardup_pairs", oracle=_LSH_PAIRS_ORACLE)
def q_embedding_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the SCALE plan — UNBOUNDED, unlike the
    all-pairs ground truth of embedding_neardup_pairs: 8 deterministic
    hyperplane signs pack into a 256-way bucket id, candidate pairs
    exist only after the bucket equi-join (n²/256 expected, and the
    bucket key rides the same shuffle as the dimension join), and only
    candidates pay the exact integer cosine.  Recall loss is the LSH
    contract: a pair split across buckets is never compared — both
    engines compute the identical bucket function, so parity holds
    exactly.  More hyperplanes → smaller buckets → cheaper and lower
    recall; OR-ing several independent bucket tables (like MinHash
    bands) buys recall back."""
    comp = (
        load_table(spark, sf_dir, "embeddings", fan_out=True)
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
    )
    # DuckDB's generate_subscripts is 1-based; posexplode is 0-based —
    # shift so the ±1 sign patterns match exactly (same fix as
    # ann_hyperplane_buckets)
    projs = [
        F.sum(
            F.when((F.col("i") + 1) % p == 0, F.col("xi")).otherwise(-F.col("xi"))
        ).alias(f"proj_{j}")
        for j, p in enumerate(_LSH_PRIMES)
    ]
    signs = comp.groupBy("vec_id").agg(*projs)
    bucket = None
    for j in range(len(_LSH_PRIMES)):
        bit = F.when(F.col(f"proj_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    buckets = signs.select("vec_id", bucket.alias("bucket"))
    mcomp = comp.join(F.broadcast(buckets), "vec_id")
    sq = mcomp.groupBy("vec_id").agg(F.sum(F.col("xi") * F.col("xi")).alias("s"))
    a, b = mcomp.alias("a"), mcomp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
        )
        .agg(F.sum(F.col("a.xi") * F.col("b.xi")).alias("dot_i"))
    )
    sa, sb = sq.alias("sa"), sq.alias("sb")
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sa.s").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sb.s").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(sa), F.col("vec_a") == F.col("sa.vec_id"))
        .join(F.broadcast(sb), F.col("vec_b") == F.col("sb.vec_id"))
        .select("vec_a", "vec_b", "bucket", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.2)
    )


@query("stream_ann_topk", oracle=_ANN_BUCKETED_ORACLE)
def q_stream_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving (similarity + ST families): the 4-query
    batch arrives as TWO micro-batches against the static corpus, each
    answered through foreachBatch with the identical bucketed top-k
    plan.  Per-query results are independent, so the drained union must
    hash-match the batch ann_bucketed_topk oracle exactly — the oracle
    is literally the same SQL.  See streaming/pipeline.py::run_stream_ann
    for the serving-path scale story."""
    from ..streaming.pipeline import run_stream_ann

    return run_stream_ann(spark, sf_dir)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-bounded cosine pruning
# ---------------------------------------------------------------------------

_SEMDEDUP_T = 0.3  # top ~1% of within-cluster pair cosines in this fixture
_SEMDEDUP_CAP = 1000  # fixture bound; at scale k grows instead (see docstring)

_SEMDEDUP_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings WHERE vec_id < {_SEMDEDUP_CAP}
),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),
sqc AS (SELECT cid, SUM(ci * ci) AS sq_c FROM cent GROUP BY cid),
dots AS (
  SELECT v.vec_id, c.cid, SUM(v.xi * c.ci) AS dot_i
  FROM comp v JOIN cent c ON v.i = c.i
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY s.sq_c - 2 * d.dot_i, cid) AS rn
    FROM dots d JOIN sqc s USING (cid)
  ) WHERE rn = 1
),
sq AS (SELECT vec_id, SUM(xi * xi) AS sq FROM comp GROUP BY vec_id),
tag AS (
  SELECT c.vec_id, a.cid, c.i, c.xi
  FROM comp c JOIN assign a USING (vec_id)
),
pd AS (
  SELECT a.cid AS cid, a.vec_id AS va, b.vec_id AS vb, SUM(a.xi * b.xi) AS dot_i
  FROM tag a JOIN tag b
    ON a.cid = b.cid AND a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
),
dropped AS (
  SELECT DISTINCT cid, vb
  FROM pd JOIN sq sa ON pd.va = sa.vec_id JOIN sq sb ON pd.vb = sb.vec_id
  WHERE round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
          / (sqrt(CAST(sa.sq AS DOUBLE) / 100000000000000.0)
           * sqrt(CAST(sb.sq AS DOUBLE) / 100000000000000.0)), 6) >= {_SEMDEDUP_T}
),
drops AS (SELECT cid, COUNT(*) AS n_dropped FROM dropped GROUP BY cid),
counts AS (SELECT cid, COUNT(*) AS n_members FROM assign GROUP BY cid)
SELECT c.cid, c.n_members,
  COALESCE(d.n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
  c.n_members - COALESCE(d.n_dropped, CAST(0 AS BIGINT)) AS n_kept
FROM counts c LEFT JOIN drops d USING (cid)
"""


@query("semdedup_prune", oracle=_SEMDEDUP_ORACLE)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding corpus (one Lloyd assignment to the k=8 deterministic
    seeds), then search for semantic duplicates ONLY within a cluster —
    pairs with cosine >= 0.3 — and prune every vector that has a
    more-senior (lower vec_id) near-duplicate in its cluster.  Output is
    the per-cluster prune audit: members, dropped, kept.

    Scale story: the whole point of SemDeDup is that the quadratic pair
    search is CLUSTER-bounded, never corpus-bounded.  At 100 TB you grow
    k proportionally (k ~ n / target_cell_size, e.g. 100k clusters of
    ~10k docs), so per-cluster work is constant and the total is linear;
    the fixture keeps k=8 fixed, so we bound the corpus (vec_id < 1000)
    exactly the way embedding_neardup_pairs bounds its ground-truth
    variant.  Assignment reuses `_lloyd_round` (centroids broadcast,
    exact-integer argmin → engine-identical memberships); pair dots are
    the explode-join-aggregate shape of embedding_neardup_pairs with the
    cluster id added to the join key, so pairs never form across
    clusters.  The greedy keep-lowest-id policy ("drop any vector with a
    senior near-dup") is deterministic in both engines — no RNG, no
    iteration, unlike connected-components dedup."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SEMDEDUP_CAP
    )
    return semdedup_audit_frame(e, k=_KMEANS_K)


def semdedup_audit_frame(e: DataFrame, k: int) -> DataFrame:
    """Per-cluster prune audit (cid, n_members, n_dropped, n_kept) for
    any embeddings frame and cluster count — the parameterized body of
    q_semdedup_prune: one Lloyd assignment to the first-k seeds, then
    within-cluster pair dots joined on (cid, i) so pairs never form
    across clusters."""
    comp = (
        e.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
        .localCheckpoint(eager=True)  # referenced by cent, sq, dots, tag
    )
    cent = comp.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "i", F.col("xi").alias("ci")
    )
    assign, counts, _ = _lloyd_round(comp, cent)
    assign = assign.localCheckpoint(eager=True)
    sq = comp.groupBy("vec_id").agg(F.sum(F.col("xi") * F.col("xi")).alias("sq"))
    tag = comp.join(assign, "vec_id")
    a, b = tag.alias("a"), tag.alias("b")
    pd = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.cid").alias("cid"),
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
        )
        .agg(F.sum(F.col("a.xi") * F.col("b.xi")).alias("dot_i"))
    )
    sa, sb = sq.alias("sa"), sq.alias("sb")
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sa.sq").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sb.sq").cast("double") / F.lit(1e14))
        ),
        6,
    )
    dropped = (
        pd.join(F.broadcast(sa), F.col("va") == F.col("sa.vec_id"))
        .join(F.broadcast(sb), F.col("vb") == F.col("sb.vec_id"))
        .filter(cos >= F.lit(_SEMDEDUP_T))
        .select("cid", "vb")
        .distinct()
    )
    drops = dropped.groupBy("cid").agg(F.count("*").alias("n_dropped"))
    n_dropped = F.coalesce(F.col("n_dropped"), F.lit(0).cast("long"))
    return (
        counts.join(drops, "cid", "left")
        .select(
            "cid",
            "n_members",
            n_dropped.alias("n_dropped"),
            (F.col("n_members") - n_dropped).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): subspace codebooks + asymmetric-distance serving
# ---------------------------------------------------------------------------

_PQ_DIMS = 8  # dims per subspace: 64-dim vectors -> 8 subspaces
_PQ_K = 4  # centroids per subspace codebook

# shared CTE prefix: exploded integer components split into subspaces,
# deterministic per-subspace seed codebooks (centroid c := vector c's
# subvector), and the nearest-centroid code per (vector, subspace) —
# exact-integer argmin, ties to the lower code, engine-identical.
def _pq_codes_sql(p: str = "", comp: str = "comp") -> str:
    """CTE chain `{p}sub → {p}cent → {p}sqc → {p}dots → {p}codes` over an
    existing `comp` CTE (1-based i, integer mantissas).  The prefix lets
    the IVF-PQ composition oracle mix these with the Lloyd-round CTEs
    (whose round-'' names would otherwise collide)."""
    return f"""
{p}sub AS (
  SELECT vec_id, CAST((i - 1) // {_PQ_DIMS} AS BIGINT) AS m, i, xi FROM {comp}
),
{p}cent AS (
  SELECT vec_id AS c, m, i, xi AS ci FROM {p}sub WHERE vec_id < {_PQ_K}
),
{p}sqc AS (SELECT c, m, SUM(ci * ci) AS sq_c FROM {p}cent GROUP BY c, m),
{p}dots AS (
  SELECT v.vec_id, c.c, v.m, SUM(v.xi * c.ci) AS dot_i
  FROM {p}sub v JOIN {p}cent c ON v.i = c.i
  GROUP BY 1, 2, 3
),
{p}codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT d.vec_id, d.m, d.c,
      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                         ORDER BY s.sq_c - 2 * d.dot_i, d.c) AS rn
    FROM {p}dots d JOIN {p}sqc s ON d.c = s.c AND d.m = s.m
  ) WHERE rn = 1
)"""


_PQ_COMP_SQL = f"""
comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
)"""

_PQ_CODES_SQL = _PQ_COMP_SQL + "," + _pq_codes_sql()


def _pq_codes_frame(
    spark: SparkSession, sf_dir: str, comp: DataFrame | None = None
) -> DataFrame:
    """(vec_id, m, code): every vector's per-subspace nearest-codebook
    assignment, on the exact-integer argmin contract.  The codebook side
    is K·M·dims rows — always broadcast; the only shuffles are the
    (vec_id, c, m) partial dots and the per-(vec_id, m) argmin, both
    map-side combined.  Pass ``comp`` to reuse an already-materialized
    component table (ivfpq_adc_topk shares one checkpoint between the
    encode and the query-table build)."""
    if comp is None:
        comp = _kmeans_comp(spark, sf_dir)  # 0-based i (oracle is 1-based)
    sub = comp.select("vec_id", F.expr(f"i div {_PQ_DIMS}").alias("m"), "i", "xi")
    cent = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("c"), "m", "i", F.col("xi").alias("ci")
    )
    sqc = cent.groupBy("c", "m").agg(F.sum(F.col("ci") * F.col("ci")).alias("sq_c"))
    dots = (
        sub.join(F.broadcast(cent.select("c", "i", "ci")), "i")
        .groupBy("vec_id", "c", "m")
        .agg(F.sum(F.col("xi") * F.col("ci")).alias("dot_i"))
    )
    dist = F.col("sq_c") - F.lit(2) * F.col("dot_i")
    return (
        dots.join(F.broadcast(sqc), ["c", "m"])
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(dist.alias("d"), F.col("c"))).alias("best"))
        .select("vec_id", "m", F.col("best.c").alias("code"))
    )


@query(
    "pq_codes",
    oracle=f"""
WITH {_PQ_CODES_SQL}
SELECT vec_id, m, code FROM codes
""",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each 64-dim vector
    into 8 contiguous 8-dim subvectors and store, per subspace, the id
    of the nearest codebook centroid — compressing a 256-byte vector to
    8 small codes.  Codebooks here are deterministically seeded
    (centroid c := vector c's subvector, the kmeans_lloyd_step idiom);
    training them further IS kmeans_two_rounds run per subspace.

    This is how a 100 TB corpus keeps its vectors IN MEMORY: the
    codebook (K·M·8 ints) broadcasts everywhere, the corpus shrinks
    ~64×, and every assignment is an exact-integer argmin (ties to the
    lower code), so the encode — like every count downstream of it — is
    engine-identical."""
    return _pq_codes_frame(spark, sf_dir)


@query(
    "ivfpq_adc_topk",
    oracle=f"""
WITH {_PQ_CODES_SQL},
qsub AS (SELECT m, i, xi AS qx FROM sub WHERE vec_id = 0),
tbl AS (  -- ADC lookup table: exact ||q_sub - centroid||^2 per (m, c)
  SELECT c.c, c.m, SUM((q.qx - c.ci) * (q.qx - c.ci)) AS dist_i
  FROM cent c JOIN qsub q ON c.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT k.vec_id, SUM(t.dist_i) AS adc_i
  FROM codes k JOIN tbl t ON k.m = t.m AND k.code = t.c
  WHERE k.vec_id != 0
  GROUP BY 1
)
SELECT vec_id, CAST(adc_i AS DOUBLE) / 100000000000000.0 AS adc_dist
FROM scored
ORDER BY adc_i, vec_id
LIMIT 10
""",
)
def q_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving via Asymmetric Distance Computation — the second half
    of the FAISS-style IVF-PQ stack (ivf_trained_topk is the first):
    the query precomputes one exact-integer distance table
    ||q_sub − centroid||² per (subspace, code) — K·M values — and every
    corpus vector is scored by summing M TABLE LOOKUPS on its stored
    codes, never touching the original vectors.  Top-10 by smallest
    approximate distance, ties to vec_id.

    Scale shape: the lookup table is K·M rows broadcast into one join
    against the (vec_id, m, code) code table, followed by a
    map-side-combined per-vector sum and TakeOrderedAndProject — the
    serving pass reads 8 small ints per vector instead of 64 doubles,
    which is the entire point of PQ at 100 TB.  Composing with
    ivf_trained_topk (route to a trained cell, then ADC within it)
    multiplies the saving by cells/probe.  adc_i stays an exact int64
    through the ORDER BY; the double appears once in the output."""
    comp = _kmeans_comp(spark, sf_dir)
    scored = _pq_adc_scored(spark, sf_dir, comp)
    return (
        scored.orderBy("adc_i", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            (F.col("adc_i").cast("double") / F.lit(1e14)).alias("adc_dist"),
        )
    )


_RERANK_SHORTLIST = 50

_RERANK_ORACLE = f"""
WITH {{codes_sql}},
qsub AS (SELECT m, i, xi AS qx FROM sub WHERE vec_id = 0),
tbl AS (
  SELECT c.c, c.m, SUM((q.qx - c.ci) * (q.qx - c.ci)) AS dist_i
  FROM cent c JOIN qsub q ON c.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT k.vec_id, SUM(t.dist_i) AS adc_i
  FROM codes k JOIN tbl t ON k.m = t.m AND k.code = t.c
  WHERE k.vec_id != 0
  GROUP BY 1
),
short AS (
  SELECT vec_id, adc_i FROM scored ORDER BY adc_i, vec_id
  LIMIT {_RERANK_SHORTLIST}
),
qv AS (SELECT i, xi AS qx FROM comp WHERE vec_id = 0),
ex AS (
  SELECT c.vec_id, s.adc_i,
    SUM((c.xi - q.qx) * (c.xi - q.qx)) AS ex_i
  FROM comp c
  JOIN short s ON c.vec_id = s.vec_id
  JOIN qv q ON c.i = q.i
  GROUP BY 1, 2
)
SELECT vec_id,
  CAST(adc_i AS DOUBLE) / 100000000000000.0 AS adc_dist,
  CAST(ex_i AS DOUBLE) / 100000000000000.0 AS exact_dist
FROM ex
ORDER BY ex_i, vec_id
LIMIT 10
"""


@query(
    "ivfpq_rerank_topk",
    oracle=_RERANK_ORACLE.format(codes_sql=_PQ_CODES_SQL),
)
def q_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production serve pattern every PQ
    index actually ships (FAISS refine / Lucene's two-phase rescoring):
    stage 1 scores the WHOLE corpus by cheap ADC table lookups and
    keeps a shortlist of {_RERANK_SHORTLIST}; stage 2 re-ranks ONLY the
    shortlist by exact squared L2 against the original vectors and
    returns the top-10 by exact distance.  PQ's quantization error
    means the ADC order and the exact order genuinely disagree inside
    the shortlist — the refine stage buys back that precision at the
    cost of reading shortlist × dims raw components instead of the
    whole corpus.

    Scale shape: stage 1 is the ivfpq_adc_topk plan (broadcast K·M
    table, map-side-combined per-vector sums, TakeOrdered shortlist);
    stage 2 broadcasts the 50-row shortlist into a semi-join against
    the vector components — the corpus-side scan prunes to shortlist
    members before any arithmetic, so refine cost is O(shortlist),
    independent of corpus size.  Both distances stay exact int64
    through their ORDER BYs; doubles appear once in the output."""
    comp = _kmeans_comp(spark, sf_dir)
    scored = _pq_adc_scored(spark, sf_dir, comp)
    short = (
        scored.orderBy("adc_i", "vec_id")
        .limit(_RERANK_SHORTLIST)
        .select(F.col("vec_id").alias("s_vid"), "adc_i")
    )
    qv = comp.filter(F.col("vec_id") == 0).select(
        "i", F.col("xi").alias("qx")
    )
    ex = (
        comp.join(
            F.broadcast(short), F.col("vec_id") == F.col("s_vid")
        )
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "adc_i")
        .agg(
            F.sum(
                (F.col("xi") - F.col("qx")) * (F.col("xi") - F.col("qx"))
            ).alias("ex_i")
        )
    )
    return (
        ex.orderBy("ex_i", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            (F.col("adc_i").cast("double") / F.lit(1e14)).alias("adc_dist"),
            (F.col("ex_i").cast("double") / F.lit(1e14)).alias("exact_dist"),
        )
    )


def _pq_adc_scored(
    spark: SparkSession,
    sf_dir: str,
    comp: DataFrame,
    members: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, adc_i): every corpus vector's exact-integer asymmetric
    PQ distance to the query (vec_id=0) — the ADC serving core shared
    by ivfpq_adc_topk (whole corpus) and ivfpq_trained_topk (one
    trained cell).  ``members`` restricts scoring to a (vec_id) subset
    BEFORE the table join — the cell prune must precede per-code work.
    Codes are rebuilt per query (the fixture persists no index); in
    production the encode runs once at ingest and serving reads 8 ints
    per vector."""
    sub = comp.select("vec_id", F.expr(f"i div {_PQ_DIMS}").alias("m"), "i", "xi")
    cent = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("c"), "m", "i", F.col("xi").alias("ci")
    )
    qsub = sub.filter(F.col("vec_id") == 0).select("i", F.col("xi").alias("qx"))
    tbl = (
        cent.join(F.broadcast(qsub), "i")
        .groupBy("c", "m")
        .agg(
            F.sum(
                (F.col("qx") - F.col("ci")) * (F.col("qx") - F.col("ci"))
            ).alias("dist_i")
        )
    )
    codes = _pq_codes_frame(spark, sf_dir, comp=comp).filter(
        F.col("vec_id") != 0
    )
    if members is not None:
        codes = codes.join(members, "vec_id")
    # rename the table side: codes and tbl share lineage (both derive
    # from comp), so bare column refs would be ambiguous
    tbl_r = tbl.select(
        F.col("c").alias("tc"), F.col("m").alias("tm"), "dist_i"
    )
    return (
        codes.join(
            F.broadcast(tbl_r),
            (F.col("m") == F.col("tm")) & (F.col("code") == F.col("tc")),
        )
        .groupBy("vec_id")
        .agg(F.sum("dist_i").alias("adc_i"))
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation audit: prefix-dim retrieval vs full-dim
# ---------------------------------------------------------------------------

_MRL_DIMS = 16  # prefix length audited against the full 64 dims

_MRL_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
fdots AS (  -- full-dimension ground truth
  SELECT q.vec_id AS qid, d.vec_id AS vec_id,
         SUM(d.xi * d.xi) AS sq, SUM(q.xi * q.xi) AS qsq,
         SUM(d.xi * q.xi) AS dot_i
  FROM comp d
  JOIN comp q ON q.i = d.i AND q.vec_id < 4
  WHERE d.vec_id >= 4
  GROUP BY 1, 2
),
full_topk AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
              / (sqrt(CAST(sq AS DOUBLE) / 100000000000000.0)
               * sqrt(CAST(qsq AS DOUBLE) / 100000000000000.0)), 6) DESC,
        vec_id) AS rnk
    FROM fdots
  ) WHERE rnk <= 10
),
tdots AS (  -- first-{_MRL_DIMS}-dims retrieval under audit
  SELECT q.vec_id AS qid, d.vec_id AS vec_id,
         SUM(d.xi * d.xi) AS sq, SUM(q.xi * q.xi) AS qsq,
         SUM(d.xi * q.xi) AS dot_i
  FROM comp d
  JOIN comp q ON q.i = d.i AND q.vec_id < 4
  WHERE d.vec_id >= 4 AND d.i <= {_MRL_DIMS}
  GROUP BY 1, 2
),
trunc_topk AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
              / (sqrt(CAST(sq AS DOUBLE) / 100000000000000.0)
               * sqrt(CAST(qsq AS DOUBLE) / 100000000000000.0)), 6) DESC,
        vec_id) AS rnk
    FROM tdots
  ) WHERE rnk <= 10
)
SELECT f.qid, COUNT(*) AS n_full,
  CAST(COALESCE(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 END), 0) AS BIGINT)
    AS n_hit,
  CAST(COALESCE(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 END), 0) AS DOUBLE)
    / COUNT(*) AS overlap
FROM full_topk f
LEFT JOIN trunc_topk t ON f.qid = t.qid AND f.vec_id = t.vec_id
GROUP BY f.qid
"""


def _brute_topk(comp: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Brute-force per-query cosine top-k straight from a component
    frame (vec_id, i, xi) — norms derived from the same slice, so a
    dimension-truncated comp audits truncated retrieval for free."""
    qside = comp.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("i").alias("qi"), F.col("xi").alias("qxi")
    )
    dots = (
        comp.filter(F.col("vec_id") >= n_queries)
        .join(F.broadcast(qside), F.col("i") == F.col("qi"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(F.col("xi") * F.col("xi")).alias("sq"),
            F.sum(F.col("qxi") * F.col("qxi")).alias("qsq"),
            F.sum(F.col("xi") * F.col("qxi")).alias("dot_i"),
        )
    )
    return _ann_score_topk(dots, k)


@query("mrl_truncation_audit", oracle=_MRL_ORACLE)
def q_mrl_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit: score per query how much
    of the TRUE full-dimension top-10 survives when retrieval uses only
    the first 16 of 64 dimensions — the measurement behind the
    'truncate MRL embeddings to cut index cost' decision (Kusupati et
    al. 2022, arXiv:2205.13147).  Truncation here is a dimension-prefix
    filter (i ≤ 16) on the SAME exploded component table, so prefix
    norms and dots come from one pass with no re-embedding; overlap is
    |trunc∩full|/10, one exact int÷int division.

    This and ann_recall_audit are the two axes of the serving cost
    table: buckets cut CANDIDATES (recall lever: nprobe), truncation
    cuts PER-CANDIDATE work (recall lever: dims) — at 100 TB both run
    on a sampled query batch exactly as here, and a prefix-dim index is
    the common first stage ahead of full-dim re-ranking.  Same window
    guarantees as the other audits: rounded integer-mantissa cosines,
    vec_id tie-breaks, engine-identical intersections."""
    e = load_table(spark, sf_dir, "embeddings", fan_out=True)
    comp, _ = _ann_comp_meta(e)
    comp = comp.localCheckpoint(eager=True)  # both audits read it
    full_k = _brute_topk(comp, 4, 10).select("qid", "vec_id")
    trunc_k = _brute_topk(comp.filter(F.col("i") <= _MRL_DIMS), 4, 10).select(
        "qid", "vec_id"
    )
    hit = F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint")
    return (
        full_k.join(trunc_k.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_full"),
            hit.alias("n_hit"),
            (hit.cast("double") / F.count("*")).alias("overlap"),
        )
    )


_IVFPQ_TRAINED_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),{_lloyd_round_sql('', 'cent')},
cent2 AS (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means
),{_lloyd_round_sql('2', 'cent2')},
cent3 AS (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means2
),{_lloyd_round_sql('3', 'cent3')},{_pq_codes_sql('p')},
qsub AS (SELECT m, i, xi AS qx FROM psub WHERE vec_id = 0),
tbl AS (
  SELECT c.c, c.m, SUM((q.qx - c.ci) * (q.qx - c.ci)) AS dist_i
  FROM pcent c JOIN qsub q ON c.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT k.vec_id, a.cid, SUM(t.dist_i) AS adc_i
  FROM pcodes k
  JOIN tbl t ON k.m = t.m AND k.code = t.c
  JOIN assign3 a ON k.vec_id = a.vec_id
  WHERE a.cid = (SELECT cid FROM assign3 WHERE vec_id = 0)
    AND k.vec_id != 0
  GROUP BY 1, 2
)
SELECT vec_id, cid, CAST(adc_i AS DOUBLE) / 100000000000000.0 AS adc_dist
FROM scored
ORDER BY adc_i, vec_id
LIMIT 10
"""


@query("ivfpq_trained_topk", oracle=_IVFPQ_TRAINED_ORACLE)
def q_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE two-level vector index, composed end-to-end — what
    FAISS calls IVF-PQ and what a production 100 TB vector store
    actually serves: the trained coarse quantizer routes the query to
    its cell (ivf_trained_topk's inverted file, 1-row probe), and ADC
    scores ONLY that cell's members from their 8 stored PQ codes via
    the broadcast lookup table (ivfpq_adc_topk's serving core).

    The cost multiplication is the point: routing touches 1/cells of
    the corpus, PQ reads 8 small ints per touched vector instead of 64
    doubles — together ~500× less data motion per query than
    brute-force at k=8 cells, and both factors scale independently
    (more cells, more subspaces).  The cell prune happens BEFORE any
    per-code work (`_pq_adc_scored(members=...)`), exactly as the
    inverted file makes physical on disk.

    Everything stays on the exact-integer contract: Lloyd training,
    cell assignment, code assignment, and the ADC sums are all int64
    argmins/sums, so this 5-stage composition is bit-identical to the
    oracle's single unrolled SQL — the strongest composition receipt
    the engine can produce."""
    comp = _kmeans_comp(spark, sf_dir)
    assign3 = _trained_inverted_file(comp)
    probe = assign3.filter(F.col("vec_id") == 0).select("cid")
    members = (
        assign3.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), "cid")
        .select("vec_id")
    )
    scored = _pq_adc_scored(spark, sf_dir, comp, members=members)
    return (
        scored.orderBy("adc_i", "vec_id")
        .limit(10)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "cid",
            (F.col("adc_i").cast("double") / F.lit(1e14)).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Power iteration: top principal direction of the embedding Gram matrix
# ---------------------------------------------------------------------------

def _power_round_sql(r: int, prev_v: str) -> str:
    """One unrolled power-iteration round: row scores s = Xv (exact
    int), down-quantized; back-projection t = Xᵀs (exact int);
    max-normalized re-quantization to scale-4 integers.  FLOOR over a
    correctly-rounded double division on BOTH sides — integer `div`
    would diverge on negatives (Spark truncates, DuckDB floors)."""
    return f"""
s{r} AS (
  SELECT c.vec_id, SUM(c.xi * v.v) AS s
  FROM comp c JOIN {prev_v} v ON c.i = v.i GROUP BY 1
),
sq{r} AS (
  SELECT vec_id,
    CAST(FLOOR(CAST(s AS DOUBLE) / 10000000.0) AS BIGINT) AS sq
  FROM s{r}
),
t{r} AS (
  SELECT c.i, SUM(c.xi * q.sq) AS t
  FROM comp c JOIN sq{r} q ON c.vec_id = q.vec_id GROUP BY 1
),
m{r} AS (SELECT GREATEST(MAX(ABS(t)), 1) AS m FROM t{r}),
v{r} AS (
  SELECT i,
    CAST(FLOOR(CAST(t AS DOUBLE) * 10000.0 / CAST(m AS DOUBLE)) AS BIGINT)
      AS v
  FROM t{r}, m{r}
)"""


_POWER_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
vinit AS (SELECT range AS i, CAST(1 AS BIGINT) AS v FROM range(1, 65)),
{_power_round_sql(1, 'vinit')},{_power_round_sql(2, 'v1')}
SELECT i AS dim_idx, CAST(v AS DOUBLE) / 10000.0 AS loading
FROM v2
"""


def _power_round(comp: DataFrame, v: DataFrame) -> DataFrame:
    s = (
        comp.join(F.broadcast(v), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xi") * F.col("v")).alias("s"))
    )
    sq = s.select(
        "vec_id",
        F.floor(F.col("s").cast("double") / F.lit(1e7)).cast("bigint").alias("sq"),
    )
    t = (
        comp.join(sq, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("xi") * F.col("sq")).alias("t"))
    )
    m = t.agg(F.greatest(F.max(F.abs(F.col("t"))), F.lit(1)).alias("m"))
    return (
        t.crossJoin(F.broadcast(m))
        .select(
            "i",
            F.floor(
                F.col("t").cast("double") * F.lit(10000.0)
                / F.col("m").cast("double")
            )
            .cast("bigint")
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )


@query("embedding_power_iteration", oracle=_POWER_ORACLE)
def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal DIRECTION of the embedding corpus by two unrolled
    power-iteration rounds on the Gram matrix — the spectral member of
    the engine's iterative family (components, PageRank, Lloyd, BFS):
    v ← XᵀXv without ever materializing the covariance, as two
    map-side-combined passes per round (row scores s = Xv with the
    64-row v broadcast; back-projection t = Xᵀs shuffled on vec_id),
    then max-normalized re-quantization so the next round's argmin-free
    arithmetic stays exact-integer.

    Engine-identical by the FLOOR-over-double contract: row scores and
    back-projections are exact int64 sums (bounds in _power_round_sql's
    scales: |s| ≤ 64·1e7·1e4, |t| ≤ n·1e7·6.4e5 — fine to n ~ 1e6 rows
    per job; at 100 TB the back-projection pre-aggregates per partition
    with one more down-quantization, same algebra), and both
    re-quantizations FLOOR a correctly-rounded double division — the
    one integer-division form that agrees across engines on NEGATIVE
    components (Spark's `div` truncates, DuckDB's `//` floors).

    The loop discipline is kmeans/pagerank's: each round's 64-row v is
    localCheckpoint-ed, comp materializes once.  This is the top-PC
    pass under embedding whitening, ABTT ('all-but-the-top') cleanup,
    and spectral outlier screens — and its output feeds the same
    broadcast-projection shape the PQ/IVF family serves."""
    comp = _kmeans_comp(spark, sf_dir)
    # comp's i is 0-based (posexplode); the oracle's is 1-based
    # (generate_subscripts) — seed v on the 0-based domain and shift
    # only the OUTPUT index
    v = spark.range(0, 64).select(
        F.col("id").cast("bigint").alias("i"), F.lit(1).cast("bigint").alias("v")
    )
    v1 = _power_round(comp, v)
    v2 = _power_round(comp, v1)
    return v2.select(
        (F.col("i") + 1).cast("bigint").alias("dim_idx"),
        (F.col("v").cast("double") / F.lit(10000.0)).alias("loading"),
    )


_ABTT_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
vinit AS (SELECT range AS i, CAST(1 AS BIGINT) AS v FROM range(1, 65)),
{_power_round_sql(1, 'vinit')},{_power_round_sql(2, 'v1')},
vv AS (SELECT GREATEST(SUM(v * v), 1) AS vv FROM v2),
per AS (
  SELECT c.vec_id, SUM(c.xi * c.xi) AS xx, SUM(c.xi * w.v) AS xv
  FROM comp c JOIN v2 w ON c.i = w.i
  GROUP BY 1
)
SELECT vec_id,
  sqrt(CAST(xx AS DOUBLE)) / 10000000.0 AS l2_norm,
  sqrt(GREATEST(CAST(xx AS DOUBLE)
       - CAST(xv AS DOUBLE) * CAST(xv AS DOUBLE) / CAST(vv AS DOUBLE), 0))
    / 10000000.0 AS residual_norm
FROM per, vv
"""


@query("embedding_abtt_residuals", oracle=_ABTT_ORACLE)
def q_embedding_abtt_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding cleanup (Mu & Viswanath 2018,
    arXiv:1702.01417) COMPOSED with the trained spectral direction:
    power-iteration finds the dominant common direction
    (embedding_power_iteration's exact loop), and every vector's norm
    is split into its projection on that direction vs the residual —
    the residual is what ABTT keeps, because the common component
    carries frequency artifacts, not meaning.  Third composition
    receipt after ivf_trained_topk and ivfpq_trained_topk: the trained
    artifact of one operator is the broadcast input of the next.

    Engine-identical floats: xx, xv, vv are exact int64 sums; the
    projection xv²/vv is computed double-first (the int square would
    overflow at 4e25) via identical correctly-rounded expression chains
    on both sides, and sqrt of bit-identical doubles is bit-identical.
    Scale shape: the 64-row direction broadcasts; the residual pass is
    ONE map-side-combined aggregation per vector over the same exploded
    components the training rounds read — a narrow scan at 100 TB, and
    at serving time the subtraction happens at query scoring with zero
    extra passes."""
    comp = _kmeans_comp(spark, sf_dir)
    v0 = spark.range(0, 64).select(
        F.col("id").cast("bigint").alias("i"), F.lit(1).cast("bigint").alias("v")
    )
    v2 = _power_round(comp, _power_round(comp, v0))
    vv = v2.agg(
        F.greatest(F.sum(F.col("v") * F.col("v")), F.lit(1)).alias("vv")
    )
    per = (
        comp.join(F.broadcast(v2), "i")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("xi") * F.col("xi")).alias("xx"),
            F.sum(F.col("xi") * F.col("v")).alias("xv"),
        )
    )
    proj_sq = (
        F.col("xv").cast("double") * F.col("xv").cast("double")
        / F.col("vv").cast("double")
    )
    return per.crossJoin(F.broadcast(vv)).select(
        "vec_id",
        (F.sqrt(F.col("xx").cast("double")) / F.lit(1e7)).alias("l2_norm"),
        (
            F.sqrt(F.greatest(F.col("xx").cast("double") - proj_sq, F.lit(0.0)))
            / F.lit(1e7)
        ).alias("residual_norm"),
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index: build once (bucketed tables), serve with ZERO
# exchanges — the physical build/serve split of a production vector store
# ---------------------------------------------------------------------------

def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, prefix: str | None = None
) -> tuple[str, str]:
    """Train and PERSIST the IVF-PQ index as catalog tables — the build
    half of the production split that ivfpq_trained_topk performs
    logically but rebuilds per query:

    - ``<prefix>_idx`` — one row per corpus vector ``(cid, vec_id,
      codes array<bigint>)``, BUCKETED (and bucket-sorted) on cid with
      one bucket per coarse cell, so each cell's members are one
      contiguous bucket file: the inverted file made physical on disk.
    - ``<prefix>_cent`` — the trained coarse quantizer ``(cid, i, ci)``
      (k·dims integer mantissas), the tiny artifact a serving node loads
      to route queries.

    The PQ codebook needs no table: it is deterministically seeded from
    the first _PQ_K corpus vectors (pq_codes contract), which the serve
    path re-reads via a pushed-down ``vec_id < K`` scan.  At 100 TB the
    build is the one-off ingest job (train → encode → bucketed write);
    nothing here runs at query time."""
    import hashlib

    if prefix is None:
        prefix = "ivfpq_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # a fresh session's in-memory catalog forgets tables whose warehouse
    # directories persist on disk — drop both layers or saveAsTable
    # throws LOCATION_ALREADY_EXISTS on the second driver run
    for t in (f"{prefix}_idx", f"{prefix}_cent"):
        drop_table_and_location(spark, t)
    comp = _kmeans_comp(spark, sf_dir)
    cent3 = _trained_centroids(comp).localCheckpoint(eager=True)
    assign3 = _trained_inverted_file(comp, cent3=cent3)
    codes = _pq_codes_frame(spark, sf_dir, comp=comp)
    # the segment write and the centroid-table write are independent
    # actions off the same checkpointed artifacts — overlap them from a
    # 2-thread driver pool (guide §2.6; distinct table names, so the
    # catalog operations do not contend)
    run_legs(
        spark,
        lambda: _write_ivfpq_segment(spark, assign3, codes, f"{prefix}_idx"),
        # trained centroids: k·dims rows — tiny, plain table (the SAME
        # checkpointed frame the assignment pass used, trained once)
        lambda: cent3.write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{prefix}_cent"),
    )
    return f"{prefix}_idx", f"{prefix}_cent"


def _write_ivfpq_segment(
    spark: SparkSession, assign: DataFrame, codes: DataFrame, table: str
) -> None:
    """Pack (vec_id, m, code) rows to per-vector code arrays, attach the
    cell assignment, and persist as one immutable cid-bucketed segment —
    the storage unit both the initial build and every upsert write."""
    packed = (
        codes.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "code"))).alias("mc"))
        .select(
            "vec_id", F.transform("mc", lambda s: s["code"]).alias("codes")
        )
    )
    idx = (
        assign.filter(F.col("vec_id") != 0)
        .join(packed, "vec_id")
        .select("cid", "vec_id", "codes")
    )
    write_bucketed(idx, table, key="cid", n_buckets=_KMEANS_K)


def _trained_centroids(comp: DataFrame) -> DataFrame:
    """(cid, i, ci): quantized round-2 Lloyd means — the trained coarse
    quantizer _trained_inverted_file assigns against, exposed so the
    build can persist the artifact itself."""
    cent = (
        comp.filter(F.col("vec_id") < _KMEANS_K)
        .select(F.col("vec_id").alias("cid"), "i", F.col("xi").alias("ci"))
    )
    _, _, means1 = _lloyd_round(comp, cent)
    cent2 = means1.select(
        "cid", "i", _mi(F.col("mean_x")).alias("ci")
    ).localCheckpoint(eager=True)
    _, _, means2 = _lloyd_round(comp, cent2)
    return means2.select("cid", "i", _mi(F.col("mean_x")).alias("ci"))


def serve_ivfpq_stored(
    spark: SparkSession,
    sf_dir: str,
    idx_table: str | list[str],
    cent_table: str,
) -> DataFrame:
    """Serve top-10 from the PERSISTED index — the query-time half.
    What a serving node does per query, reproduced exactly:

    1. route: score the query's integer components against the stored
       k·dims centroid table and take the argmin cell (one tiny
       broadcast join; the single cid comes back to the driver — the
       serving-node routing step, k values of work);
    2. LUT: precompute the K·M exact-integer ADC table
       ||q_sub − codebook centroid||² from the seeded codebook (a
       pushed-down vec_id < K scan of 4 vectors; K·M = 32 values to the
       driver);
    3. scan: read ONLY the routed cell's bucket (cid = literal prunes
       to 1 of k bucket files — SelectedBucketsCount in the plan), score
       each member by M literal-array lookups on its stored codes, and
       TakeOrderedAndProject the top-10.

    The serve plan has ZERO Exchange operators end-to-end (pinned in
    tests/test_plans.py): no shuffle, no join, no re-encode — a
    bucket-pruned scan plus per-row integer arithmetic, which is why a
    1000-executor cluster serves thousands of these concurrently
    against a 100 TB corpus.  Driver-side values are k + K·M ints per
    query — routing state, not data motion."""
    from functools import reduce as _reduce

    # File-level bucket pruning (SelectedBucketsCount: 1 of k) requires
    # autoBucketedScan to be OFF at EXECUTION time — callers scope that
    # with sinks.bucketed.bucket_filter_pruning around the action (the
    # registered queries materialize inside the scope; the plan tests
    # hold it open across their explain).  Setting it here session-wide
    # would leak into every later query's physical plans (ADVICE r6).
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "x"
            )
        )
        .select("i", _mi(F.col("x")).alias("qx"))
    )
    # 1+2. routing and the ADC LUT are two independent driver
    # round-trips (route reads the stored centroid table, the LUT the
    # pushed-down vec_id < K codebook scan) — collect them from a
    # 2-thread pool (guide §2.6) so the serving node pays one round
    # trip of latency, not two
    cent = spark.table(cent_table)

    def _route_leg() -> list:
        return (
            cent.join(F.broadcast(q), "i")
            .groupBy("cid")
            .agg(
                F.sum(F.col("ci") * F.col("ci")).alias("sq_c"),
                F.sum(F.col("ci") * F.col("qx")).alias("dot_i"),
            )
            .orderBy(F.col("sq_c") - 2 * F.col("dot_i"), "cid")
            .limit(1)
            .collect()  # driver-ok: LIMIT-1 routing state (the probe cid)
        )

    def _lut_leg() -> list:
        cb = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < _PQ_K)
            .select(
                "vec_id",
                F.posexplode(
                    F.col("embedding").cast("array<double>")
                ).alias("i", "x"),
            )
            .select(
                F.col("vec_id").alias("c"),
                F.expr(f"i div {_PQ_DIMS}").alias("m"),
                "i",
                _mi(F.col("x")).alias("ci"),
            )
        )
        return (
            cb.join(F.broadcast(q), "i")
            .groupBy("c", "m")
            .agg(
                F.sum(
                    (F.col("qx") - F.col("ci"))
                    * (F.col("qx") - F.col("ci"))
                ).alias("dist_i")
            )
            .collect()  # driver-ok: K·M LUT rows (codebook-bounded)
        )

    routed, lut_rows = run_legs(spark, _route_leg, _lut_leg)
    if not routed:  # empty corpus → empty index, nothing to route to
        return spark.createDataFrame(
            [], "vec_id bigint, cid bigint, adc_dist double"
        )
    probe_cid = routed[0]["cid"]
    lut = {(r["m"], r["c"]): int(r["dist_i"]) for r in lut_rows}
    n_sub = 1 + max(m for m, _ in lut)
    # 3. zero-Exchange serve: bucket-pruned scan + literal-array lookups
    terms = [
        F.element_at(
            F.array(*[F.lit(lut[(m, c)]) for c in range(_PQ_K)]),
            F.element_at(F.col("codes"), m + 1).cast("int") + 1,
        )
        for m in range(n_sub)
    ]
    adc_i = _reduce(lambda a, b: a + b, terms)
    # segments: a str serves one table; a list UNIONs bucket-pruned
    # scans of several immutable segments (the upsert layout) — union
    # adds no Exchange, each side prunes to its own cid bucket
    tables = [idx_table] if isinstance(idx_table, str) else list(idx_table)
    scan = _reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t) for t in tables],
    )
    return (
        scan.filter(F.col("cid") == F.lit(probe_cid))
        .select("vec_id", "cid", adc_i.alias("adc_i"))
        .orderBy("adc_i", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "cid",
            (F.col("adc_i").cast("double") / F.lit(1e14)).alias("adc_dist"),
        )
    )


@query("ivfpq_stored_topk", oracle=_IVFPQ_TRAINED_ORACLE)
def q_ivfpq_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfpq_trained_topk with the build/serve split made PHYSICAL: the
    index (cell-bucketed codes + trained centroids) is written to
    catalog tables by build_ivfpq_index, then the answer comes from
    serve_ivfpq_stored reading ONLY the persisted artifacts — same
    oracle, bit-identical result, but the serve plan is a bucket-pruned
    scan with zero Exchanges instead of a five-stage training pipeline.
    The fixture pays build+serve in one call (honest: nothing cached
    across driver invocations); in production the build amortizes over
    every query that follows — this query is the receipt that the
    stored layout really serves the same answers as the logical
    composition.  The serve executes inside the bucket_filter_pruning
    scope (materialized eagerly — top-10 rows) so the autoBucketedScan
    override never leaks past this call."""
    from ..sinks.bucketed import bucket_filter_pruning

    idx_table, cent_table = build_ivfpq_index(spark, sf_dir)
    with bucket_filter_pruning(spark):
        return serve_ivfpq_stored(
            spark, sf_dir, idx_table, cent_table
        ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Index UPSERT: immutable segments — maintain the stored index without
# retraining, serve across segments with zero exchanges
# ---------------------------------------------------------------------------

_IVFPQ_UPSERT_ORACLE = f"""
WITH allcomp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
comp AS (SELECT * FROM allcomp WHERE vec_id % 10 != 7),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),{_lloyd_round_sql('', 'cent')},
cent2 AS (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means
),{_lloyd_round_sql('2', 'cent2')},
cent3 AS (  -- trained on the BASE slice only
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means2
),{_lloyd_round_sql('3', 'cent3', comp='allcomp')},{_pq_codes_sql('p', comp='allcomp')},
qsub AS (SELECT m, i, xi AS qx FROM psub WHERE vec_id = 0),
tbl AS (
  SELECT c.c, c.m, SUM((q.qx - c.ci) * (q.qx - c.ci)) AS dist_i
  FROM pcent c JOIN qsub q ON c.i = q.i
  GROUP BY 1, 2
),
scored AS (
  SELECT k.vec_id, a.cid, SUM(t.dist_i) AS adc_i
  FROM pcodes k
  JOIN tbl t ON k.m = t.m AND k.code = t.c
  JOIN assign3 a ON k.vec_id = a.vec_id
  WHERE a.cid = (SELECT cid FROM assign3 WHERE vec_id = 0)
    AND k.vec_id != 0
  GROUP BY 1, 2
)
SELECT vec_id, cid, CAST(adc_i AS DOUBLE) / 100000000000000.0 AS adc_dist
FROM scored
ORDER BY adc_i, vec_id
LIMIT 10
"""


@query("ivfpq_upsert_topk", oracle=_IVFPQ_UPSERT_ORACLE)
def q_ivfpq_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE without retraining — the immutable-segment
    shape every production vector store (and Lucene) uses: the coarse
    quantizer trains on the BASE 90% slice and builds the first
    cid-bucketed segment; the 10% DELTA batch arrives later and is
    UPSERTED by assignment-only routing against the STORED centroid
    table plus PQ encoding with the same seeded codebooks — one narrow
    pass over the new vectors, the base segment untouched, no Lloyd
    round anywhere in the upsert path.  Serving unions the bucket-pruned
    scans of both segments (serve_ivfpq_stored: still ZERO exchanges —
    union is not a shuffle) and must rank base and delta members
    identically to the oracle's single logical index.

    This is the 100 TB ingest story: training is rare (distribution
    drift), upserts are continuous (cost ∝ batch, not corpus), and a
    background compaction merging small segments is a pure
    bucketed-table rewrite.  Everything stays on the exact-int
    contract, so segment boundaries are physically invisible in the
    results — the strongest maintenance receipt the engine can give."""
    from ..sinks.bucketed import bucket_filter_pruning

    segments, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    with bucket_filter_pruning(spark):
        return serve_ivfpq_stored(
            spark, sf_dir, segments, cent
        ).localCheckpoint(eager=True)


def compact_ivfpq_segments(
    spark: SparkSession,
    segments: list[str],
    merged_table: str,
    tombstones: DataFrame | None = None,
) -> str:
    """Merge several immutable IVF-PQ code segments into ONE
    cid-bucketed table — the third leg of the Lucene-shaped index
    lifecycle (build → upsert → compact).  Compaction is a pure
    bucketed-table rewrite: the stored (cid, vec_id, codes) rows are
    already routed and PQ-encoded, so no Lloyd round, no codebook, no
    embedding read happens here — just union the segment scans and
    write one bucketed segment.  At 100 TB this is the background job
    that bounds segment count (serve cost grows with segments because
    each query opens one bucket file PER segment); cost is linear in
    the compacted bytes and shuffles only the 16-byte-per-vector code
    rows, never the embeddings.

    Passing ``tombstones`` (a vec_id frame) makes the rewrite also the
    DELETE-application point — the Lucene liveness model: deletes are
    logical (an id list) until compaction drops the rows physically, a
    broadcast anti-join on the 16-byte code rows.  Serving needs no
    tombstone check afterward."""
    from functools import reduce as _reduce

    drop_table_and_location(spark, merged_table)
    merged = _reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t) for t in segments],
    )
    if tombstones is not None:
        merged = merged.join(
            F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti"
        )
    write_bucketed(merged, merged_table, key="cid", n_buckets=_KMEANS_K)
    return merged_table


@query("ivfpq_compacted_topk", oracle=_IVFPQ_UPSERT_ORACLE)
def q_ivfpq_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment COMPACTION receipt — completes the index lifecycle the
    stored/upsert pair started: build the two-segment upsert layout
    (train on the base 90%, route+encode the 10% delta), then compact
    base+delta into ONE cid-bucketed segment via a pure
    read-union-rewrite, and serve the top-10 from the compacted table
    alone.  Same oracle as ivfpq_upsert_topk: segment boundaries are
    physically invisible — the merged segment must rank identically to
    the two-segment union AND to the oracle's single logical index.
    The compacted serve plan is again a single bucket-pruned
    zero-Exchange scan (pinned in tests/test_plans.py::
    test_ivfpq_segment_compaction_preserves_results), i.e. compaction
    restores the one-bucket-file-per-query serve cost that upserts
    erode."""
    import hashlib

    from ..sinks.bucketed import bucket_filter_pruning

    segments, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    prefix = "ivfpqc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    merged = compact_ivfpq_segments(spark, segments, f"{prefix}_merged")
    with bucket_filter_pruning(spark):
        return serve_ivfpq_stored(
            spark, sf_dir, merged, cent
        ).localCheckpoint(eager=True)


_IVFPQ_DELETE_MOD = 3  # tombstone set: vec_id % 10 == 3

_IVFPQ_DELETE_ORACLE = _IVFPQ_UPSERT_ORACLE.replace(
    "AND k.vec_id != 0",
    f"AND k.vec_id != 0 AND k.vec_id % 10 != {_IVFPQ_DELETE_MOD}",
)
assert _IVFPQ_DELETE_ORACLE != _IVFPQ_UPSERT_ORACLE  # replace anchored


@query("ivfpq_delete_compact_topk", oracle=_IVFPQ_DELETE_ORACLE)
def q_ivfpq_delete_compact_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE handling — the fourth leg of the index lifecycle
    (build → upsert → compact → delete-compact), the Lucene liveness
    model: deletes arrive as a LOGICAL tombstone id list (vec_id % 10
    == {mod}), the segments stay immutable, and the next compaction
    applies them physically — a broadcast anti-join on the 16-byte
    code rows during the rewrite, after which serving needs no
    liveness check (the compacted serve is the same bucket-pruned
    zero-Exchange scan).  The oracle is the single logical index MINUS
    the tombstoned ids — ranks must match exactly, proving deletes
    cannot resurface (a base delete, a delta delete, and untouched
    survivors all ride the same path).

    Scale shape: tombstones are an id set (broadcast); delete cost is
    the compaction rewrite it piggybacks on — no per-query filtering,
    no index rebuild, no retraining."""
    import hashlib

    from ..sinks.bucketed import bucket_filter_pruning

    segments, cent = build_ivfpq_upsert_segments(spark, sf_dir)
    tomb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % 10 == _IVFPQ_DELETE_MOD)
    )
    prefix = "ivfpqd_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    merged = compact_ivfpq_segments(
        spark, segments, f"{prefix}_merged", tombstones=tomb
    )
    with bucket_filter_pruning(spark):
        return serve_ivfpq_stored(
            spark, sf_dir, merged, cent
        ).localCheckpoint(eager=True)


def build_ivfpq_upsert_segments(
    spark: SparkSession, sf_dir: str
) -> tuple[list[str], str]:
    """Build the two-segment upsert layout (train on base, route+encode
    the delta against stored artifacts) and return
    ([base_table, delta_table], centroid_table) for serving."""
    import hashlib

    prefix = "ivfpqu_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tables = (f"{prefix}_base", f"{prefix}_delta", f"{prefix}_cent")
    for t in tables:
        drop_table_and_location(spark, t)
    comp_all = _kmeans_comp(spark, sf_dir)
    base = comp_all.filter(F.col("vec_id") % 10 != 7)
    # ---- build: train on base, write segment 1 + the centroid table
    # (the two writes are independent actions off the checkpointed
    # centroids — overlapped per guide §2.6, the build_ivfpq_index
    # shape; the upsert leg below reads the STORED centroid table, so
    # it starts only after both writes land)
    cent3 = _trained_centroids(base).localCheckpoint(eager=True)
    assign_b, _, _ = _lloyd_round(base, cent3)
    codes_b = _pq_codes_frame(spark, sf_dir, comp=base)
    run_legs(
        spark,
        lambda: _write_ivfpq_segment(
            spark, assign_b, codes_b, f"{prefix}_base"
        ),
        lambda: cent3.write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"{prefix}_cent"),
    )
    # ---- upsert: route + encode the delta batch against STORED artifacts
    delta = comp_all.filter(F.col("vec_id") % 10 == 7)
    assign_d, _, _ = _lloyd_round(delta, spark.table(f"{prefix}_cent"))
    seeds = comp_all.filter(F.col("vec_id") < _PQ_K)
    codes_d = _pq_codes_frame(
        spark, sf_dir, comp=delta.unionByName(seeds)
    ).filter(F.col("vec_id") % 10 == 7)
    _write_ivfpq_segment(spark, assign_d, codes_d, f"{prefix}_delta")
    return [f"{prefix}_base", f"{prefix}_delta"], f"{prefix}_cent"


# ---------------------------------------------------------------------------
# FILTERED vector search — ANN under a metadata predicate, the hybrid
# retrieval shape (vector store + WHERE clause)
# ---------------------------------------------------------------------------

_IVF_FILTERED_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, i, xi AS ci FROM comp WHERE vec_id < {_KMEANS_K}
),
sqc AS (SELECT cid, SUM(ci * ci) AS sq_c FROM cent GROUP BY cid),
dots AS (
  SELECT v.vec_id, c.cid, SUM(v.xi * c.ci) AS dot_i
  FROM comp v JOIN cent c ON v.i = c.i
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT d.vec_id, d.cid,
      row_number() OVER (PARTITION BY d.vec_id
                         ORDER BY s.sq_c - 2 * d.dot_i, d.cid) AS rn
    FROM dots d JOIN sqc s USING (cid)
  ) WHERE rn = 1
),
probe2 AS (
  SELECT d.cid FROM dots d JOIN sqc s USING (cid)
  WHERE d.vec_id = 0
  ORDER BY s.sq_c - 2 * d.dot_i, d.cid
  LIMIT 2
),
qv AS (SELECT i, xi AS qx FROM comp WHERE vec_id = 0),
cell AS (
  SELECT a.vec_id, a.cid, e.label,
    SUM(c.xi * q.qx) AS dot_i,
    SUM(c.xi * c.xi) AS sq_v,
    SUM(q.qx * q.qx) AS sq_q
  FROM assign a
  JOIN embeddings e ON a.vec_id = e.vec_id
  JOIN comp c ON a.vec_id = c.vec_id
  JOIN qv q ON c.i = q.i
  WHERE a.cid IN (SELECT cid FROM probe2)
    AND a.vec_id != 0
    AND e.label = (SELECT label FROM embeddings WHERE vec_id = 0)
  GROUP BY 1, 2, 3
)
SELECT vec_id, cid, label,
  round((CAST(dot_i AS DOUBLE) / 100000000000000.0)
        / (sqrt(CAST(sq_v AS DOUBLE) / 100000000000000.0)
         * sqrt(CAST(sq_q AS DOUBLE) / 100000000000000.0)), 6) AS cosine_sim
FROM cell
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


@query("ivf_filtered_topk", oracle=_IVF_FILTERED_ORACLE)
def q_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — top-10 same-label neighbors of the query vector,
    served through the IVF index under a metadata predicate (the
    'hybrid search' every production vector store exposes: WHERE label
    = q.label AND vector near q).  The filter is applied INSIDE the
    probed cells (pre-filtering), and because a predicate thins every
    cell, the probe width doubles to nprobe=2 — the standard
    filtered-search compensation, reusing the recall lever
    ivf_multiprobe_topk established.  Assignment, routing, and scoring
    all stay on the exact-integer contract (argmin on sq_c - 2*dot,
    ties to lower cid), so the served set is engine-identical.

    Scale shape: the label predicate joins the inverted file BEFORE any
    scoring — with an index stored per (cid) bucket and label as a
    second partition column the scan prunes to (probed cells x one
    label); scoring cost is members-after-filter, not cell size.  The
    centroid/query sides are broadcast; top-k is
    TakeOrderedAndProject."""
    comp = _kmeans_comp(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    cent = comp.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), "i", F.col("xi").alias("ci")
    )
    assign, _, _ = _lloyd_round(comp, cent)
    sqc = cent.groupBy("cid").agg(
        F.sum(F.col("ci") * F.col("ci")).alias("sq_c")
    )
    qv = comp.filter(F.col("vec_id") == 0).select(
        "i", F.col("xi").alias("qx")
    )
    probe2 = (
        comp.filter(F.col("vec_id") == 0)
        .join(F.broadcast(cent), "i")
        .groupBy("cid")
        .agg(F.sum(F.col("xi") * F.col("ci")).alias("dot_i"))
        .join(F.broadcast(sqc), "cid")
        .orderBy(F.col("sq_c") - 2 * F.col("dot_i"), "cid")
        .limit(2)
        .select("cid")
    )
    qlab = labels.filter(F.col("vec_id") == 0).select("label")
    members = (
        assign.join(F.broadcast(probe2), "cid")
        .filter(F.col("vec_id") != 0)
        .join(labels, "vec_id")
        .join(F.broadcast(qlab), "label")
    )
    cell = (
        members.join(comp, "vec_id")
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "cid", "label")
        .agg(
            F.sum(F.col("xi") * F.col("qx")).alias("dot_i"),
            F.sum(F.col("xi") * F.col("xi")).alias("sq_v"),
            F.sum(F.col("qx") * F.col("qx")).alias("sq_q"),
        )
    )
    cos = F.round(
        (F.col("dot_i").cast("double") / F.lit(1e14))
        / (
            F.sqrt(F.col("sq_v").cast("double") / F.lit(1e14))
            * F.sqrt(F.col("sq_q").cast("double") / F.lit(1e14))
        ),
        6,
    )
    return (
        cell.select("vec_id", "cid", "label", cos.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss ±1 projection — distance-preservation audit
# ---------------------------------------------------------------------------

_JL_R = 16  # projected dimensions
_JL_SLICE = 20  # audited vector slice (bounded pair set: 190 pairs)

from .dedup import _SHINGLE_INT_SQL as _SHINGLE_INT_SQL_REF  # noqa: E402

# scale-1e6 mantissas keep the projected sums exactly in int64:
# |y_j| <= 64 * 1e6 = 6.4e7, pair diff^2 <= 1.6e16, 16-dim sum <= 2.6e17
_MI6_SQL = "CAST(ROUND({x} * 1000000.0) AS BIGINT)"

_JL_SIGN_SQL = (
    "(1 - 2 * ("
    + _SHINGLE_INT_SQL_REF.format(
        x="concat(CAST({j} AS VARCHAR), ':', CAST({i} AS VARCHAR))"
    )
    + " % 2))"
)

_JL_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI6_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings WHERE vec_id < {_JL_SLICE}
),
proj AS (
  SELECT c.vec_id, r.j,
    SUM({_JL_SIGN_SQL.format(j='r.j', i='c.i')} * c.xi) AS yj
  FROM comp c CROSS JOIN range({_JL_R}) r(j)
  GROUP BY 1, 2
),
orig AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    SUM((a.xi - b.xi) * (a.xi - b.xi)) AS d2o
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
pr AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    SUM((a.yj - b.yj) * (a.yj - b.yj)) AS d2p
  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT o.vec_a, o.vec_b,
  CAST(o.d2o AS DOUBLE) / 1000000000000.0 AS d2_orig,
  CAST(p.d2p AS DOUBLE) / 1000000000000.0 AS d2_proj,
  CAST(p.d2p AS DOUBLE)
    / ({_JL_R}.0 * CAST(NULLIF(o.d2o, 0) AS DOUBLE)) AS distortion
FROM orig o JOIN pr p ON o.vec_a = p.vec_a AND o.vec_b = p.vec_b
"""


@query("jl_projection_audit", oracle=_JL_ORACLE)
def q_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection (±1 Achlioptas signs)
    from 64 to r=16 dimensions, audited on a bounded pair slice: the
    sign matrix is DETERMINISTIC (parity of the md5-prefix hash of
    "j:i" — the engine's portable-hash discipline), so both engines
    build the identical projection and the per-pair distortion
    ||ya−yb||²/(r·||xa−xb||²) — whose expectation is 1 under the JL
    law E||y||² = r·||x||² — is hash-checked, not just bounded.
    Mantissas are scale-1e6 so the projected sums stay exactly inside
    int64 (the scale-1e7 contract would overflow the 16-dim squared
    diffs).  NULLIF guards the degenerate identical-pair cell.

    Scale shape: the projection is ONE census over (vector × r) with
    broadcast of the r-row dimension grid — at 100 TB this is the
    pre-pass that shrinks every downstream pair computation by d/r
    (here 4×); pairs are only formed on the audited slice, exactly like
    ann_recall_audit's bounded ground-truth side."""
    comp = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _JL_SLICE)
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "x"
            ),
        )
        .select(
            "vec_id",
            (F.col("i") + 1).alias("i"),  # 1-based like generate_subscripts
            F.round(F.col("x") * F.lit(1e6)).cast("bigint").alias("xi"),
        )
    )
    jgrid = spark.range(_JL_R).select(F.col("id").alias("j"))
    sign = 1 - 2 * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    proj = (
        comp.crossJoin(F.broadcast(jgrid))
        .groupBy("vec_id", "j")
        .agg(F.sum(sign * F.col("xi")).alias("yj"))
    )
    ca, cb = comp.alias("ca"), comp.alias("cb")
    orig = (
        ca.join(
            cb,
            (F.col("ca.i") == F.col("cb.i"))
            & (F.col("ca.vec_id") < F.col("cb.vec_id")),
        )
        .groupBy(
            F.col("ca.vec_id").alias("vec_a"),
            F.col("cb.vec_id").alias("vec_b"),
        )
        .agg(
            F.sum(
                (F.col("ca.xi") - F.col("cb.xi"))
                * (F.col("ca.xi") - F.col("cb.xi"))
            ).alias("d2o")
        )
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    pr = (
        pa.join(
            pb,
            (F.col("pa.j") == F.col("pb.j"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .groupBy(
            F.col("pa.vec_id").alias("vec_a"),
            F.col("pb.vec_id").alias("vec_b"),
        )
        .agg(
            F.sum(
                (F.col("pa.yj") - F.col("pb.yj"))
                * (F.col("pa.yj") - F.col("pb.yj"))
            ).alias("d2p")
        )
    )
    return orig.join(pr, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        (F.col("d2o").cast("double") / F.lit(1e12)).alias("d2_orig"),
        (F.col("d2p").cast("double") / F.lit(1e12)).alias("d2_proj"),
        (
            F.col("d2p").cast("double")
            / (
                F.lit(float(_JL_R))
                * F.nullif(F.col("d2o"), F.lit(0)).cast("double")
            )
        ).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# Retrieval-quality audit — exact-integer DCG of IVF vs brute force
# ---------------------------------------------------------------------------

# L = lcm(2..11): rank discounts L/(rank+1) are EXACT integers, so DCG
# sums are int64 and hash-checkable (log2 discounts would need a float
# sum — order-dependent and unhashable).
_DCG_L = 27720

def _query_rankings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Brute-force top-10 and IVF(nprobe=1) top-10 rankings of query
    vec 0 — shared by the DCG and RBO retrieval-quality audits."""
    comp = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    qv = comp.filter(F.col("vec_id") == 0).select(
        "i", _mi(F.col("x")).alias("qx")
    )
    scored = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(_mi(F.col("x")) * F.col("qx")).alias("dot_i"),
            F.sum(_mi(F.col("x")) * _mi(F.col("x"))).alias("sq_v"),
            F.sum(F.col("qx") * F.col("qx")).alias("sq_q"),
        )
        .select(
            "vec_id",
            "label",
            F.round(
                (F.col("dot_i").cast("double") / F.lit(1e14))
                / (
                    F.sqrt(F.col("sq_v").cast("double") / F.lit(1e14))
                    * F.sqrt(F.col("sq_q").cast("double") / F.lit(1e14))
                ),
                6,
            ).alias("cosine_sim"),
        )
        .localCheckpoint(eager=False)  # scored once, served to both rankings
    )
    wrank = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    brute = (
        scored.orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(wrank))
    )
    cent = comp.groupBy("label", "i").agg(
        _mi(
            F.sum(_mi(F.col("x"))).cast("double") / F.lit(1e7) / F.count("*")
        ).alias("cx")
    )
    probe = (
        cent.join(F.broadcast(qv), "i")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("cx") * F.col("qx")).cast("double")
                / F.sqrt(F.sum(F.col("cx") * F.col("cx")).cast("double"))
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("label"))
        .limit(1)
        .select("label")
    )
    ivf = (
        scored.join(F.broadcast(probe), "label")
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(wrank))
    )
    return brute, ivf


# Shared ranking CTEs: brute-force top-10 vs IVF(nprobe=1) top-10 for
# query vec 0 — instantiated by the DCG audit and the RBO audit.
_RANKINGS_SQL = f"""comp AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
qv AS (SELECT i, {_MI_SQL.format(x='x')} AS qx FROM comp WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id, v.label,
    round((CAST(SUM({_MI_SQL.format(x='v.x')} * qv.qx) AS DOUBLE)
           / 100000000000000.0)
        / (sqrt(CAST(SUM({_MI_SQL.format(x='v.x')}
                        * {_MI_SQL.format(x='v.x')}) AS DOUBLE)
                / 100000000000000.0)
         * sqrt(CAST(SUM(qv.qx * qv.qx) AS DOUBLE)
                / 100000000000000.0)), 6) AS cosine_sim
  FROM comp v JOIN qv ON v.i = qv.i
  WHERE v.vec_id != 0
  GROUP BY v.vec_id, v.label
),
brute AS (
  SELECT vec_id,
    row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM scored ORDER BY cosine_sim DESC, vec_id LIMIT 10
),
cent AS (
  SELECT label, i,
    {_MI_SQL.format(x=f"CAST(SUM({_MI_SQL.format(x='x')}) AS DOUBLE) / 10000000.0 / COUNT(*)")} AS cx
  FROM comp GROUP BY label, i
),
probe AS (
  SELECT c.label
  FROM cent c JOIN qv ON c.i = qv.i
  GROUP BY c.label
  ORDER BY CAST(SUM(c.cx * qv.qx) AS DOUBLE)
           / sqrt(CAST(SUM(c.cx * c.cx) AS DOUBLE)) DESC, c.label
  LIMIT 1
),
ivf AS (
  SELECT vec_id,
    row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM scored
  WHERE label = (SELECT label FROM probe)
  ORDER BY cosine_sim DESC, vec_id LIMIT 10
)"""

_DCG_ORACLE = f"""
WITH {_RANKINGS_SQL},
dcg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
    CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_hits,
    CAST(SUM(CASE WHEN b.vec_id IS NOT NULL
             THEN {_DCG_L} // (a.rank + 1) ELSE 0 END) AS BIGINT) AS dcg_i
  FROM ivf a LEFT JOIN brute b ON a.vec_id = b.vec_id
),
idcg AS (
  SELECT CAST(SUM({_DCG_L} // (rank + 1)) AS BIGINT) AS idcg_i FROM brute
)
SELECT d.n_candidates, d.n_hits, d.dcg_i, i.idcg_i,
  CAST(d.dcg_i AS DOUBLE) / CAST(i.idcg_i AS DOUBLE) AS ndcg
FROM dcg d CROSS JOIN idcg i
"""


@query("retrieval_dcg_audit", oracle=_DCG_ORACLE)
def q_retrieval_dcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCG@10 of the IVF (nprobe=1) candidate list against the
    brute-force ground truth — the retrieval-quality metric that
    weights EARLY hits, complementing ann_recall_audit's unweighted
    recall.  The discount is linear (gain = L/(rank+1) with
    L = lcm(2..11) = 27720), so every gain is an exact integer and the
    DCG sums hash cross-engine — log2 discounts would force an
    order-dependent float sum.  ndcg = dcg/idcg is the single final
    double division; idcg derives from the ground-truth list itself
    (robust to short lists).

    Scale shape: both rankings reuse ONE scored pass over the corpus
    (the cell filter restricts the IVF side); the audit join touches
    10×10 rows.  At 100 TB the brute side is the bounded calibration
    slice, the IVF side the production path — same discipline as
    ann_recall_audit."""
    brute, ivf = _query_rankings(spark, sf_dir)
    gain = F.lit(_DCG_L) / (F.col("rank") + 1)  # exact: L divisible by 2..11
    hit = F.col("b.vec_id").isNotNull()
    dcg = (
        ivf.alias("a")
        .join(
            F.broadcast(brute.select("vec_id").alias("b")),
            F.col("a.vec_id") == F.col("b.vec_id"),
            "left",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_hits"),
            F.sum(
                F.when(hit, F.expr(f"{_DCG_L} div (rank + 1)")).otherwise(0)
            )
            .cast("bigint")
            .alias("dcg_i"),
        )
    )
    idcg = brute.agg(
        F.sum(F.expr(f"{_DCG_L} div (rank + 1)"))
        .cast("bigint")
        .alias("idcg_i")
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "n_candidates",
        "n_hits",
        "dcg_i",
        "idcg_i",
        (F.col("dcg_i").cast("double") / F.col("idcg_i").cast("double")).alias(
            "ndcg"
        ),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap — the top-weighted rank-similarity metric between
# two retrieval rankings (Webber et al., TOIS 2010), exact at p = 1/2
# ---------------------------------------------------------------------------

_RBO_D = 10  # evaluation depth (both rankings are top-10)
# lcm of d·2^d for d = 1..10 — every RBO term ovl_d/(d·2^d) scales to an
# exact integer, so the truncated-RBO sum is int-exact, no FLOOR needed
_RBO_Q = 645120  # 2^11 · 3^2 · 5 · 7

_RBO_ORACLE = f"""
WITH {_RANKINGS_SQL},
m AS (
  SELECT GREATEST(a.rank, b.rank) AS dmin
  FROM ivf a JOIN brute b ON a.vec_id = b.vec_id
),
depths AS (SELECT unnest(range(1, {_RBO_D + 1})) AS d),
ovl AS (
  SELECT d.d, CAST(COUNT(m.dmin) AS BIGINT) AS ovl
  FROM depths d LEFT JOIN m ON m.dmin <= d.d
  GROUP BY d.d
),
t AS (
  SELECT d, ovl,
    ovl * CAST({_RBO_Q} // (d * (CAST(1 AS BIGINT) << d)) AS BIGINT)
      AS term_num
  FROM ovl
),
tot AS (SELECT CAST(SUM(term_num) AS BIGINT) AS rbo_num FROM t)
SELECT CAST(t.d AS BIGINT) AS depth,
  t.ovl AS overlap,
  CAST(t.ovl AS DOUBLE) / CAST(t.d AS DOUBLE) AS agreement,
  CAST(t.term_num AS BIGINT) AS term_num,
  (SELECT rbo_num FROM tot) AS rbo_num,
  CAST((SELECT rbo_num FROM tot) AS DOUBLE) / {_RBO_Q}.0 AS rbo
FROM t
"""


@query("retrieval_rbo_audit", oracle=_RBO_ORACLE)
def q_retrieval_rbo_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP between the IVF and brute-force rankings —
    the top-weighted rank-SIMILARITY metric (Webber-Moffat-Zobel)
    completing the retrieval-eval trio: recall counts hits
    (ann_recall_audit), nDCG scores the served list against graded
    ground truth (retrieval_dcg_audit), RBO compares the two RANKINGS
    as objects — it penalizes disagreement more the higher it occurs
    and handles non-conjoint lists, which is why it's the standard for
    comparing ranker versions (index A/B tests, quantization-induced
    rank churn).

    Exactness: at persistence p = 1/2 the weight of depth d is
    2^(-d), so the truncated RBO Σ_d (1-p)·p^(d-1)·(ovl_d/d) scales by
    lcm(d·2^d, d ≤ 10) = 645120 into a sum of EXACT INTEGER terms —
    the one published RBO parameterization with no float fold at all
    (p=1/2 weights the top ~2 ranks with ~75% of the mass — the
    sharp-top regime).  Per-depth overlap counts, agreements, term
    numerators, and the total are all hash-checked; rbo is the single
    final division.

    Scale shape: both rankings reuse ONE scored pass
    (`_query_rankings`, shared with the DCG audit); the RBO fold
    touches depth × matched rows ≤ 10×10.  At 100 TB the rankings are
    whatever the production and challenger indexes serve — the metric
    itself is list-bounded."""
    brute, ivf = _query_rankings(spark, sf_dir)
    m = (
        ivf.alias("a")
        .join(
            F.broadcast(brute.alias("b")),
            F.col("a.vec_id") == F.col("b.vec_id"),
        )
        .select(
            F.greatest(F.col("a.rank"), F.col("b.rank")).alias("dmin")
        )
    )
    depths = spark.range(1, _RBO_D + 1).select(
        F.col("id").cast("bigint").alias("d")
    )
    ovl = (
        depths.join(
            F.broadcast(m), F.col("dmin") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("dmin").cast("bigint").alias("ovl"))
    )
    t = ovl.select(
        "d",
        "ovl",
        (
            F.col("ovl")
            * F.expr(f"CAST({_RBO_Q} div (d * shiftleft(1, d)) AS BIGINT)")
        ).alias("term_num"),
    )
    tot = t.agg(F.sum("term_num").cast("bigint").alias("rbo_num"))
    return t.crossJoin(F.broadcast(tot)).select(
        F.col("d").cast("bigint").alias("depth"),
        F.col("ovl").alias("overlap"),
        (F.col("ovl").cast("double") / F.col("d").cast("double")).alias(
            "agreement"
        ),
        F.col("term_num").cast("bigint").alias("term_num"),
        "rbo_num",
        (F.col("rbo_num").cast("double") / F.lit(float(_RBO_Q))).alias(
            "rbo"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding distribution drift — era-over-era centroid shift per label
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, label, (vec_id % 2) AS era,
    generate_subscripts(embedding, 1) AS i,
    {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
sums AS (
  SELECT label, i,
    SUM(CASE WHEN era = 0 THEN xi ELSE 0 END) AS sa,
    SUM(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN era = 1 THEN xi ELSE 0 END) AS sb,
    SUM(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS nb
  FROM comp GROUP BY 1, 2
),
terms AS (
  SELECT label, na, nb,
    (abs(CAST(sa AS BIGINT) * CAST(nb AS BIGINT)
         - CAST(sb AS BIGINT) * CAST(na AS BIGINT)) // 100000) AS q
  FROM sums
),
agg AS (
  SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b, SUM(q * q) AS s
  FROM terms GROUP BY label
)
SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  sqrt(CAST(s AS DOUBLE)) * 100000.0
    / (CAST(n_a * n_b AS DOUBLE) * 10000000.0) AS centroid_shift
FROM agg
"""


@query("embedding_centroid_drift", oracle=_DRIFT_ORACLE)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DISTRIBUTION drift — the monitor an embedding-backed
    pipeline (retrieval index, semdedup, classifier features) runs when
    the upstream encoder or corpus changes: split each label's vectors
    into two eras (vec_id parity stands in for the snapshot boundary)
    and measure the L2 shift between era centroids.  A shift spike per
    label is the re-train/re-index trigger; the per-label grain
    localizes WHICH region of the space moved.

    Determinism: the mean difference per dimension is the exact-integer
    cross product sa·nb − sb·na (never a float mean); its magnitude is
    quantized ONCE by integer division (identical in both engines on
    the non-negative abs), squared in int64, summed exactly via the
    DECIMAL(38,0)/HUGEINT accumulator, and converted to the final
    double through one sqrt + two scale ops — a fixed closed form.

    Scale shape: one (label, dim) aggregation with map-side combine —
    state is labels × dims counters however large the corpus; no
    joins, no per-vector output.  The era split is a free column
    expression (in production: a snapshot/date predicate pushed to the
    scan)."""
    return drift_from_sums(
        drift_partial_sums(load_table(spark, sf_dir, "embeddings"))
    )


def drift_partial_sums(batch: DataFrame) -> DataFrame:
    """(label, era, i, s, n) moment partials for a batch of embedding
    rows — the ADDITIVE drift state: partials from any batching of the
    corpus merge by plain + into the same exact-integer sums, which is
    what makes the streaming fold (run_stream_embedding_drift)
    hash-identical to the batch pass."""
    comp = batch.select(
        "label",
        (F.col("vec_id") % 2).alias("era"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    ).select("label", "era", "i", _mi(F.col("x")).alias("xi"))
    return comp.groupBy("label", "era", "i").agg(
        F.sum("xi").alias("s"), F.count("*").alias("n")
    )


def drift_from_sums(parts: DataFrame) -> DataFrame:
    """Fold (label, era, i, s, n) partials into the per-label centroid
    shift — the closed form shared by the batch query and the
    streaming merge (see q_embedding_centroid_drift for the
    determinism argument)."""
    sums = parts.groupBy("label", "i").agg(
        F.sum(F.when(F.col("era") == 0, F.col("s")).otherwise(0)).alias("sa"),
        F.sum(F.when(F.col("era") == 0, F.col("n")).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("era") == 1, F.col("s")).otherwise(0)).alias("sb"),
        F.sum(F.when(F.col("era") == 1, F.col("n")).otherwise(0)).alias("nb"),
    )
    q = F.expr("abs(sa * nb - sb * na) div 100000")
    agg = (
        sums.select("label", "na", "nb", q.alias("q"))
        .groupBy("label")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("s"),
        )
    )
    return agg.select(
        "label",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (
            F.sqrt(F.col("s").cast("double"))
            * F.lit(100000.0)
            / ((F.col("n_a") * F.col("n_b")).cast("double") * F.lit(1e7))
        ).alias("centroid_shift"),
    )


@query("stream_embedding_drift", oracle=_DRIFT_ORACLE)
def q_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitoring — the centroid-shift state maintained
    incrementally: each micro-batch of embeddings writes its own
    (label, era, dim) moment partial under its batch id (replay-safe
    overwrite, the run_stream_countmin discipline), and the fold merges
    committed partials by plain integer ADDITION before the shared
    closed form.  Additivity of the exact-integer moments is the merge
    law (the same property incremental_agg_maintenance receipts for
    SUM/COUNT), so the streamed shift is hash-identical to the batch
    pass for ANY batching — same oracle verbatim.

    Scale shape: per-batch state is labels × dims × 2 counter rows —
    constant in corpus size; the fold touches batches × that, never
    vectors.  This is how an ingest pipeline watches encoder drift
    continuously instead of re-scanning the corpus per report."""
    from ..streaming.pipeline import run_stream_embedding_drift

    return run_stream_embedding_drift(spark, sf_dir)


# ---------------------------------------------------------------------------
# Binary quantization serve — 1-bit codes, Hamming shortlist, exact re-rank
# ---------------------------------------------------------------------------

_BQ_SHORTLIST = 50

_BQ_CODES_SQL = """
SELECT vec_id,
  CAST(SUM(CASE WHEN x > 0 AND i <= 32
                THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT)
    AS lo,
  CAST(SUM(CASE WHEN x > 0 AND i > 32
                THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT)
    AS hi
FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE embedding IS NOT NULL)
GROUP BY vec_id
"""

_BQ_ORACLE = f"""
WITH codes AS ({_BQ_CODES_SQL}),
q AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
ham AS (
  SELECT c.vec_id,
    bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS hamming
  FROM codes c, q WHERE c.vec_id != 0
),
shortlist AS (
  SELECT vec_id, hamming FROM (
    SELECT vec_id, hamming,
      row_number() OVER (ORDER BY hamming, vec_id) AS r
    FROM ham
  ) WHERE r <= {_BQ_SHORTLIST}
),
dots AS ({_DOT_SQL})
SELECT s.vec_id, CAST(s.hamming AS BIGINT) AS hamming,
  round(d.dot_d / (sqrt(d.sq_v) * sqrt(d.sq_q)), 6) AS cosine_sim
FROM shortlist s JOIN dots d ON s.vec_id = d.vec_id
ORDER BY cosine_sim DESC, s.vec_id
LIMIT 10
"""


@query("binary_quant_rerank_topk", oracle=_BQ_ORACLE)
def q_binary_quant_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-quantization serving — the 1-bit-per-dimension compression
    every vector store ships as its cheapest tier: each 64-dim vector
    packs to a 64-bit sign code (two 32-bit halves, avoiding the bit-63
    sign corner on both engines), candidates shortlist by Hamming
    distance (two XOR+popcounts per pair — 512× less arithmetic than
    the float dot), and the top-50 shortlist re-ranks with
    the EXACT integer-mantissa cosine.  Completes the quantization
    ladder: float (knn) → int8 (embedding_int8_quantize) → PQ codes
    (ivfpq family) → 1-bit (this), each with its serve + re-rank
    receipt (the ivfpq_rerank_topk shape at maximum compression).

    Determinism: sign bits from exact double comparisons (x > 0), the
    Hamming order tie-broken by vec_id, the re-rank on the established
    round-6 exact-mantissa cosine.

    Scale shape: code packing is one zero-shuffle fold per vector; the
    shortlist is TakeOrderedAndProject over 16 bytes/vector (the whole
    corpus' codes fit where float vectors cannot — at 100 TB of
    vectors the code table is ~0.4 TB and serves from memory); only
    50 vectors ever pay the float re-rank, via a broadcast
    semi-prune."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # zero-shuffle code packing: an array fold per row (an exploded
    # groupBy would shuffle dims × vectors rows for no reason)
    codes = e.select(
        "vec_id",
        F.expr(
            "aggregate(sequence(0, least(size(v), 32) - 1),"
            " CAST(0 AS BIGINT),"
            " (acc, i) -> acc + IF(i >= 0 AND i < size(v)"
            "                      AND v[i] > CAST(0 AS DOUBLE),"
            "                      shiftleft(CAST(1 AS BIGINT), i),"
            "                      CAST(0 AS BIGINT)))"
        ).alias("lo"),
        F.expr(
            "aggregate(sequence(32, greatest(size(v), 33) - 1),"
            " CAST(0 AS BIGINT),"
            " (acc, i) -> acc + IF(i < size(v) AND v[i] > CAST(0 AS DOUBLE),"
            "                      shiftleft(CAST(1 AS BIGINT), i - 32),"
            "                      CAST(0 AS BIGINT)))"
        ).alias("hi"),
    )
    q = codes.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    ham = (
        codes.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
            ).alias("hamming"),
        )
    )
    shortlist = ham.orderBy("hamming", "vec_id").limit(_BQ_SHORTLIST)
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        _dot_double(F.col("v"), F.col("v")).alias("qsq"),
    )
    rer = (
        e.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.col("hamming").cast("bigint").alias("hamming"),
            F.round(
                _dot_double(F.col("v"), F.col("qv"))
                / (
                    F.sqrt(_dot_double(F.col("v"), F.col("v")))
                    * F.sqrt(F.col("qsq"))
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    return rer.orderBy(F.col("cosine_sim").desc(), "vec_id").limit(10)


# ---------------------------------------------------------------------------
# DBSCAN-lite density clustering — core/border/noise over the cosine graph
# ---------------------------------------------------------------------------

_DB_SLICE = 300   # bounded slice (the all-pairs oracle's affordability bound)
_DB_EPS = 0.30    # eps-neighbor: rounded cosine >= this
_DB_MINPTS = 3    # core iff >= this many eps-neighbors (excluding self)

_DB_COS_SQL = f"""
comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
    CAST(ROUND(unnest(CAST(embedding AS DOUBLE[])) * 10000000.0) AS BIGINT)
      AS xi
  FROM embeddings WHERE vec_id < {_DB_SLICE} AND embedding IS NOT NULL
),
sq AS (SELECT vec_id, SUM(xi * xi) AS sq FROM comp GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.xi * b.xi) AS d
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
edges AS (
  SELECT va, vb
  FROM dots JOIN sq sa ON va = sa.vec_id JOIN sq sb ON vb = sb.vec_id
  WHERE round(CAST(d AS DOUBLE)
        / (sqrt(CAST(sa.sq AS DOUBLE)) * sqrt(CAST(sb.sq AS DOUBLE))),
        6) >= {_DB_EPS}
),
sym AS (SELECT va AS v, vb AS w FROM edges UNION ALL SELECT vb, va FROM edges),
deg AS (SELECT v, COUNT(*) AS n FROM sym GROUP BY v),
core AS (SELECT v FROM deg WHERE n >= {_DB_MINPTS})
"""

_DBSCAN_ORACLE = f"""
WITH RECURSIVE {_DB_COS_SQL},
ce AS (
  SELECT s.v, s.w FROM sym s
  JOIN core c1 ON s.v = c1.v JOIN core c2 ON s.w = c2.v
),
reach(a, b) AS (
  SELECT v, v FROM core
  UNION
  SELECT r.a, e.w FROM reach r JOIN ce e ON r.b = e.v
),
clusters AS (SELECT a AS v, MIN(b) AS cid FROM reach GROUP BY a),
border AS (
  SELECT s.v, MIN(cl.cid) AS cid
  FROM sym s JOIN clusters cl ON s.w = cl.v
  WHERE s.v NOT IN (SELECT v FROM core)
  GROUP BY s.v
),
universe AS (
  SELECT DISTINCT vec_id AS v FROM comp
)
SELECT u.v AS vec_id,
  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_neighbors,
  CASE WHEN cl.cid IS NOT NULL THEN 'core'
       WHEN b.cid IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  CAST(COALESCE(cl.cid, b.cid) AS BIGINT) AS cluster_id
FROM universe u
LEFT JOIN deg d ON u.v = d.v
LEFT JOIN clusters cl ON u.v = cl.v
LEFT JOIN border b ON u.v = b.v
"""


@query("embedding_dbscan_clusters", oracle=_DBSCAN_ORACLE)
def q_embedding_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-lite density clustering over the embedding cosine graph —
    the density-based alternative to k-means that needs no k and leaves
    genuine outliers UNCLUSTERED: eps-neighbors are pairs with rounded
    cosine >= 0.30, a CORE point has >= 3 neighbors, clusters
    are connected components of the core-core subgraph (min-core-id
    labels via the engine's pointer-jumping loop), BORDER points attach
    to the minimum cluster id among their core neighbors (the
    deterministic resolution of classic DBSCAN's arbitrary border
    assignment), everything else is NOISE.  Composes three existing
    primitives — the exact pair-cosine census, degree thresholding, and
    connected_components — into the corpus-curation clustering step.

    Bounded to vec_id < 300 exactly like embedding_neardup_pairs:
    the all-pairs neighbor census is the ORACLE'S affordability bound;
    at 100 TB candidate pairs come from the hyperplane LSH buckets
    (embedding_lsh_neardup_pairs) or IVF cells, with the same
    downstream core/border/components algebra unchanged (density
    clustering inherits LSH's recall knob — banding_recall_audit's
    honesty applies).

    Oracle: the recursive-closure form over the core-core edges (the
    dedup_components pattern), border resolution as a grouped MIN."""
    from .dedup import connected_components_fold

    # (r14 note: a broadcast + zip_with per-pair fold of this census
    # was tried and measured SLOWER — 1.15 s vs 0.97 s isolated — the
    # interpreted array lambdas lose to the codegen'd dim-join at the
    # 300-vector bound; the dim-keyed exchange is skew-bounded by the
    # slice, so the original shape stays.)
    comp = (
        load_table(spark, sf_dir, "embeddings", fan_out=True)
        .filter((F.col("vec_id") < _DB_SLICE) & F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "x"
            ),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
    )
    sq = comp.groupBy("vec_id").agg(F.sum(F.col("xi") * F.col("xi")).alias("sq"))
    a, b = comp.alias("a"), comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .agg(F.sum(F.col("a.xi") * F.col("b.xi")).alias("d"))
    )
    sqa = sq.select(F.col("vec_id").alias("va"), F.col("sq").alias("sa"))
    sqb = sq.select(F.col("vec_id").alias("vb"), F.col("sq").alias("sb"))
    cos = F.round(
        F.col("d").cast("double")
        / (
            F.sqrt(F.col("sa").cast("double"))
            * F.sqrt(F.col("sb").cast("double"))
        ),
        6,
    )
    edges = (
        dots.join(F.broadcast(sqa), "va")
        .join(F.broadcast(sqb), "vb")
        .filter(cos >= _DB_EPS)
        .select("va", "vb")
        .localCheckpoint(eager=True)
    )
    sym = edges.unionByName(
        edges.select(F.col("vb").alias("va"), F.col("va").alias("vb"))
    ).select(F.col("va").alias("v"), F.col("vb").alias("w"))
    deg = sym.groupBy("v").agg(F.count("*").alias("n"))
    core = deg.filter(F.col("n") >= _DB_MINPTS).select("v")
    ce = (
        sym.join(core.select(F.col("v").alias("cv")), F.col("v") == F.col("cv"))
        .join(core.select(F.col("v").alias("cw")), F.col("w") == F.col("cw"))
        .select(F.col("v").alias("src"), F.col("w").alias("dst"))
    )
    # r15: the core graph is SLICE-bounded (vec_id < _DB_SLICE is the
    # oracle's affordability bound), so exact components come from the
    # one-pass collected union-find fold instead of the checkpointed
    # pointer-jumping loop (~58 jobs of scheduling; A/B receipt in
    # connected_components_fold — labels byte-identical, 0.22 s vs
    # 4.1 s at sf0.1).  comps is re-read by border and the final
    # census, so materialize it once.
    comps = (
        connected_components_fold(
            core.select(F.col("v").alias("vid")), ce, id_col="vid"
        )
        .select(F.col("nid").alias("v"), F.col("component").alias("cid"))
        .localCheckpoint(eager=True)
    )
    border = (
        sym.join(comps.select(F.col("v").alias("w2"), "cid"), F.col("w") == F.col("w2"))
        .join(comps.select(F.col("v").alias("not_core")), F.col("v") == F.col("not_core"), "left_anti")
        .groupBy("v")
        .agg(F.min("cid").alias("bcid"))
    )
    universe = comp.select("vec_id").distinct()
    out = (
        universe.join(
            deg.select(F.col("v").alias("vec_id"), "n"), "vec_id", "left"
        )
        .join(
            comps.select(F.col("v").alias("vec_id"), "cid"), "vec_id", "left"
        )
        .join(
            border.select(F.col("v").alias("vec_id"), "bcid"),
            "vec_id",
            "left",
        )
    )
    return out.select(
        "vec_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_neighbors"),
        F.when(F.col("cid").isNotNull(), F.lit("core"))
        .when(F.col("bcid").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise"))
        .alias("role"),
        F.coalesce(F.col("cid"), F.col("bcid")).cast("bigint").alias(
            "cluster_id"
        ),
    )


# ---------------------------------------------------------------------------
# MMR diversified re-rank — greedy relevance-vs-redundancy selection
# ---------------------------------------------------------------------------

_MMR_CAND = 20  # candidate shortlist (top-N by relevance)
_MMR_PICKS = 4  # greedy picks (1 seed + 3 unrolled MMR rounds)


def _mmr_pick_sql(r: int) -> str:
    """One unrolled MMR round: score remaining candidates by
    rel − max-dot-to-selected (λ=1/2 ordering), pick the argmax."""
    return f""",
pen{r} AS (
  SELECT pd.a AS vec_id, MAX(pd.d) AS pen
  FROM pdots pd JOIN sel{r - 1} s ON pd.b = s.vec_id
  WHERE pd.a NOT IN (SELECT vec_id FROM sel{r - 1})
  GROUP BY pd.a
),
pick{r} AS (
  SELECT c.vec_id, c.rel, p.pen, {r + 1} AS rank
  FROM cand c JOIN pen{r} p ON c.vec_id = p.vec_id
  ORDER BY c.rel - p.pen DESC, c.vec_id
  LIMIT 1
),
sel{r} AS MATERIALIZED (
  SELECT vec_id, rel, pen, rank FROM sel{r - 1}
  UNION ALL SELECT vec_id, rel, pen, rank FROM pick{r}
)"""


_MMR_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
qv AS (SELECT i, xi AS qx FROM comp WHERE vec_id = 0),
rels AS (
  SELECT c.vec_id, SUM(c.xi * q.qx) AS rel
  FROM comp c JOIN qv q ON c.i = q.i
  WHERE c.vec_id != 0
  GROUP BY c.vec_id
),
cand AS MATERIALIZED (
  SELECT vec_id, rel FROM rels ORDER BY rel DESC, vec_id
  LIMIT {_MMR_CAND}
),
pdots AS MATERIALIZED (
  SELECT ca.vec_id AS a, cb.vec_id AS b, SUM(x.xi * y.xi) AS d
  FROM cand ca JOIN cand cb ON ca.vec_id != cb.vec_id
  JOIN comp x ON x.vec_id = ca.vec_id
  JOIN comp y ON y.vec_id = cb.vec_id AND y.i = x.i
  GROUP BY 1, 2
),
sel0 AS MATERIALIZED (
  SELECT vec_id, rel, CAST(0 AS HUGEINT) AS pen, 1 AS rank
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
){"".join(_mmr_pick_sql(r) for r in range(1, _MMR_PICKS))}
SELECT CAST(rank AS BIGINT) AS rank,
  CAST(vec_id AS BIGINT) AS vec_id,
  CAST(rel AS DOUBLE) / 100000000000000.0 AS relevance,
  CAST(pen AS DOUBLE) / 100000000000000.0 AS max_sim_selected,
  (CAST(rel AS DOUBLE) - CAST(pen AS DOUBLE)) / 2.0
    / 100000000000000.0 AS mmr_score
FROM sel{_MMR_PICKS - 1}
"""


@query("mmr_diversified_topk", oracle=_MMR_ORACLE)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    — the diversification pass a retrieval pipeline runs AFTER the ANN
    shortlist: greedily pick documents maximizing
    λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ = 1/2, so each pick
    trades relevance against redundancy with what's already selected.
    Similarity is the INNER PRODUCT on the integer-mantissa contract
    (exact ints end-to-end; the cosine-normalized variant divides by
    norms and loses exactness — documented trade, same greedy
    structure), so every argmax comparison is integer-exact and the
    pick SEQUENCE hash-matches, not just the set.  Ties break to the
    smallest vec_id.

    Scale shape: relevance is one broadcast-query dot pass + a top-{n}
    TakeOrdered; the candidate-candidate dot matrix is {n}×{n} over
    the SHORTLIST only (never the corpus); each of the {k} unrolled
    picks is a tiny broadcast anti-join + argmax — MMR cost is
    O(shortlist²·dims), independent of corpus size, which is why the
    production pipeline runs it per query after IVF/LSH."""
    comp = _kmeans_comp(spark, sf_dir)
    qv = comp.filter(F.col("vec_id") == 0).select(
        "i", F.col("xi").alias("qx")
    )
    rels = (
        comp.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("xi") * F.col("qx")).alias("rel"))
    )
    cand = (
        rels.orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_CAND)
        .localCheckpoint(eager=True)
    )
    cc = comp.join(
        F.broadcast(cand.select("vec_id")), "vec_id"
    ).localCheckpoint(eager=True)
    x, y = cc.alias("x"), cc.alias("y")
    pdots = (
        x.join(
            y,
            (F.col("x.i") == F.col("y.i"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .groupBy(
            F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b")
        )
        .agg(F.sum(F.col("x.xi") * F.col("y.xi")).alias("d"))
        .localCheckpoint(eager=True)
    )
    sel = (
        cand.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "rel",
            F.lit(0).cast("long").alias("pen"),
            F.lit(1).alias("rank"),
        )
    )
    for r in range(1, _MMR_PICKS):
        pen = (
            pdots.join(
                F.broadcast(sel.select(F.col("vec_id").alias("b"))), "b"
            )
            .groupBy(F.col("a").alias("vec_id"))
            .agg(F.max("d").alias("pen"))
            .join(sel.select("vec_id"), "vec_id", "left_anti")
        )
        pick = (
            cand.join(pen, "vec_id")
            .orderBy((F.col("rel") - F.col("pen")).desc(), "vec_id")
            .limit(1)
            .select("vec_id", "rel", "pen", F.lit(r + 1).alias("rank"))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        F.col("rank").cast("bigint").alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        (F.col("rel").cast("double") / F.lit(1e14)).alias("relevance"),
        (F.col("pen").cast("double") / F.lit(1e14)).alias(
            "max_sim_selected"
        ),
        (
            (F.col("rel").cast("double") - F.col("pen").cast("double"))
            / F.lit(2.0)
            / F.lit(1e14)
        ).alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# NN-descent round — distributed kNN-graph construction (Dong et al. 2011),
# the graph-index build family (HNSW/NSG's batch cousin)
# ---------------------------------------------------------------------------

_NND_K = 4  # neighbors kept per node


def _nnd_chain_sql(k: int, rk_sql: str, comp: str = "comp") -> str:
    """One NND round as CTE text (ids … ranked) over component CTE
    ``comp``, with ring degree ``k`` and the ring ordering supplied as
    the full ``rk`` CTE body ``rk_sql`` — instantiated by BOTH the
    build-round oracle (md5-hash ring over raw embeddings, k=4) and
    the graph-serve oracle (LSH-bit ring over the clustered fixture,
    k=8)."""
    return f"""ids AS (SELECT DISTINCT vec_id FROM {comp}),
nn AS (SELECT COUNT(*) AS n FROM ids),
rk AS (
  {rk_sql}
),
nb0 AS MATERIALIZED (
  SELECT a.vec_id AS v, b.vec_id AS u
  FROM rk a
  CROSS JOIN unnest(range(1, {k + 1})) AS o(j)
  JOIN rk b ON b.r = ((a.r - 1 + o.j) % (SELECT n FROM nn)) + 1
),
und AS MATERIALIZED (
  SELECT v, u FROM nb0 UNION SELECT u, v FROM nb0
),
cand AS (
  SELECT a.v AS v, b.u AS u
  FROM und a JOIN und b ON a.u = b.v
  WHERE b.u != a.v
),
allc AS (
  SELECT DISTINCT v, u FROM (
    SELECT v, u FROM nb0 UNION ALL SELECT v, u FROM cand)
),
scored AS MATERIALIZED (
  SELECT c.v, c.u,
    SUM((pv.xi - pu.xi) * (pv.xi - pu.xi)) AS d2
  FROM allc c
  JOIN {comp} pv ON pv.vec_id = c.v
  JOIN {comp} pu ON pu.vec_id = c.u AND pu.i = pv.i
  GROUP BY c.v, c.u
),
ranked AS (
  SELECT v, u, d2,
    row_number() OVER (PARTITION BY v ORDER BY d2, u) AS rn
  FROM scored
)"""


_NND_RK_SQL = f"""SELECT vec_id,
    row_number() OVER (ORDER BY
      {_SHINGLE_INT_SQL_REF.format(x="CAST(vec_id AS VARCHAR)")},
      vec_id) AS r
  FROM ids"""


# the build-round instantiation of the NND chain, over all embeddings
# rows (the graph-serve oracle instantiates the same chain over its
# clustered fixture)
_NND_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
{_nnd_chain_sql(_NND_K, _NND_RK_SQL, "comp")}
SELECT r.v AS vec_id,
  CAST(r.rn AS BIGINT) AS rnk,
  r.u AS neighbor_id,
  CAST(r.d2 AS DOUBLE) / 100000000000000.0 AS d2_dist,
  TRUE AS improved
FROM ranked r
WHERE r.rn <= {_NND_K}
"""


@query("nn_descent_round", oracle=_NND_ORACLE)
def q_nn_descent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-DESCENT round (Dong et al. 2011) — distributed
    kNN-GRAPH construction, the batch-parallel cousin of the
    HNSW/NSG graph indexes and the missing *graph-build* member of
    the ANN family (IVF/PQ quantize; LSH buckets; this one builds the
    neighborhood graph that graph-based search serves from):

    1. INIT: a deterministic k-regular ring — nodes ordered by
       md5-prefix hash (content-keyed, no RNG), each node's initial
       neighbors are its {_NND_K} hash-ring successors;
    2. LOCAL JOIN: candidates(v) = neighbors ∪ neighbors-of-neighbors
       through the UNDIRECTED neighbor graph (general + reverse
       neighbors — the core NN-descent observation that a neighbor of
       a neighbor is likely a neighbor);
    3. SCORE + SELECT: every candidate pair scored by exact-integer
       squared L2 over the mantissa components (64-dim sums ≤ 8.6e15,
       exact in int64/hugeint, one int→double division at the end);
       keep the {_NND_K} smallest per node (tie → smallest id).

    The kept set is chosen from candidates ∪ current neighbors — a
    SUPERSET of the current neighbors — so per-node top-k distance
    sums improve monotonically BY CONSTRUCTION; the oracle states
    improved=TRUE while Spark computes it, so a fold that breaks the
    superset property breaks the hash (tests/test_plans.py also pins
    the quantitative receipt).  Iterating the round to convergence is
    the full NN-descent build; one round is the unit the oracle can
    unroll (the kmeans_two_rounds precedent).

    Scale shape: the ring init is a node-DIRECTORY window (node ids
    only, metadata-sized); candidate generation is two equi-joins on
    node ids bounded by k² + 2k pairs per node — NEVER all-pairs; the
    distance census joins candidate pairs to components keyed on
    (vec_id, i) and aggregates map-side; selection is a per-node
    rank-1..k window on the candidate partitioning.  At 100 TB the
    candidate count per round stays O(n·k²) and the component join is
    the only wide stage — the properties that made NN-descent the
    standard distributed kNN-graph recipe."""
    comp = _kmeans_comp(spark, sf_dir)
    nb0, scored, topk = _nnd_round_frames(comp)
    old_s = (
        nb0.alias("n0")
        .join(
            scored.alias("s"),
            (F.col("s.v") == F.col("n0.v"))
            & (F.col("s.u") == F.col("n0.u")),
        )
        .groupBy(F.col("n0.v").alias("v"))
        .agg(F.sum("d2").alias("os"))
    )
    new_s = topk.groupBy("v").agg(F.sum("d2").alias("ns"))
    imp = old_s.join(new_s, "v").select(
        "v", (F.col("ns") <= F.col("os")).alias("improved")
    )
    return topk.join(imp, "v").select(
        F.col("v").alias("vec_id"),
        F.col("rn").cast("bigint").alias("rnk"),
        F.col("u").alias("neighbor_id"),
        (F.col("d2").cast("double") / F.lit(1e14)).alias("d2_dist"),
        "improved",
    )


def _nnd_round_frames(
    comp: DataFrame,
    k: int = _NND_K,
    rk: DataFrame | None = None,
    n_nodes: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The NND build over a component frame: (ring init nb0,
    candidate scores, per-node top-k edges) — shared by the build
    round (md5-hash ring, k=4) and the graph-serve query (LSH-bit
    ring passed in as ``rk``, k=8)."""
    from .dedup import _shingle_int

    if rk is None:
        ids = comp.select("vec_id").distinct()
        rk = ids.select(
            "vec_id",
            F.row_number()
            .over(
                Window.orderBy(
                    _shingle_int(F.col("vec_id").cast("string")), "vec_id"
                )
            )
            .alias("r"),
        )
    if n_nodes is None:
        # node-directory scalar (routing state, not data)
        n_nodes = rk.count()
    offs = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    nb0 = (
        rk.select("vec_id", "r", offs)
        .alias("a")
        .join(
            rk.alias("b"),
            F.col("b.r")
            == ((F.col("a.r") - 1 + F.col("j")) % F.lit(n_nodes)) + 1,
        )
        .select(
            F.col("a.vec_id").alias("v"), F.col("b.vec_id").alias("u")
        )
        .localCheckpoint(eager=True)
    )
    und = nb0.union(
        nb0.select(F.col("u").alias("v"), F.col("v").alias("u"))
    ).distinct()
    cand = (
        und.alias("x")
        .join(und.alias("y"), F.col("x.u") == F.col("y.v"))
        .filter(F.col("y.u") != F.col("x.v"))
        .select(F.col("x.v").alias("v"), F.col("y.u").alias("u"))
    )
    allc = nb0.unionByName(cand).distinct()
    # r15: per-pair d2 as the array fold (keyed joins on v then u — the
    # plan pin's no-all-pairs law is untouched; what changes is the
    # pairs×dims row blowup + groupBy exchange collapsing into two
    # vector-table joins and a JVM zip_with fold, identical exact
    # integer sums).  The pair frame is spread before the fold: its
    # distinct-exchange is sub-advisory at fixture scale, so AQE would
    # hand the interpreted fold ONE partition (pairs ≤ n·(k²+2k), ~24
    # bytes each — the estimate drives the scale-adaptive spread).
    # varr stays LAZY: it auto-broadcasts into both joins, and the two
    # ~n-row groupBy re-evaluations off the checkpointed comp are
    # cheaper than an extra eager-checkpoint barrier (A/B'd at sf0.1:
    # 0.94 s checkpointed vs 0.65 s lazy at k=4, tie with the old
    # dim-join; the fold pulls ahead at the serve build's k=8).
    varr = _vec_arrs(comp)
    allc = fan_out_small_frame(allc, n_nodes * (k * k + 2 * k) * 24)
    scored = (
        allc.join(
            varr.select(F.col("vid").alias("v"), F.col("arr").alias("va")),
            "v",
        )
        .join(
            varr.select(F.col("vid").alias("u"), F.col("arr").alias("ua")),
            "u",
        )
        .select("v", "u", _arr_d2(F.col("va"), F.col("ua")).alias("d2"))
        .localCheckpoint(eager=True)
    )
    rn = F.row_number().over(
        Window.partitionBy("v").orderBy("d2", "u")
    )
    topk = scored.withColumn("rn", rn).filter(F.col("rn") <= k)
    return nb0, scored, topk


# ---------------------------------------------------------------------------
# kNN-graph SERVE — beam search over the NN-descent graph (the missing
# serve leg of the graph-index family; DiskANN/HNSW's query side)
# ---------------------------------------------------------------------------

_GS_CELL = 62  # target nodes per synthetic cluster: ncl = max(8, n div 62)
_GS_NC_MIN = 8
_GS_K = 8  # graph degree for the serve build
_GS_NBITS = 12  # LSH hyperplanes ordering the init ring
_GS_H = 4  # beam-search hops
_GS_B = 8  # beam width (nodes expanded per hop)
_GS_TOPK = 4  # results served per query
_GS_QMOD = 23  # query set: vec_id % 23 == 7 (held-out perturbed probes)
_GS_SEED_MULT = 4  # entry seeds = 4·ncl, evenly spaced on the LSH ring


def _gs_ring(
    spark: SparkSession, ccomp: DataFrame, tarr: DataFrame | None = None
) -> DataFrame:
    """LSH-bit ring ordering over a (vec_id, i, xi) component frame:
    _GS_NBITS md5-derived hyperplane sign bits pack into one key whose
    rank orders the node ring (shared by the clustered serve row and
    the adversarial audit).

    r15 shape: the hyperplane coefficient hp(j, i) has only
    _GS_NBITS × dims distinct values, but the old crossJoin computed
    its md5 once per (vector, j, i) row — n·bits·dims hashes plus a
    two-level aggregation of the exploded frame (measured 3.7 s of the
    10.1 s serve-audit row at sf0.1).  Precompute the tiny coefficient
    table ONCE as per-j arrays (bits × dims md5s total), broadcast it,
    and fold each vector's dot products with zip_with+aggregate —
    identical exact-integer sums, one small exchange instead of two
    exploded ones (guide §1.2: don't recompute what a lookup holds)."""
    from .dedup import _shingle_int

    spark_ = ccomp.sparkSession
    dmax = ccomp.agg(F.max("i")).first()[0] or 0
    jdf = spark_.range(_GS_NBITS).select(
        F.col("id").cast("int").alias("j")
    )
    hparr = F.transform(
        F.sequence(F.lit(0), F.lit(int(dmax))),
        lambda i: _shingle_int(
            F.concat(
                F.lit("h:"),
                F.col("j").cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        )
        % 2001
        - 1000,
    )
    hpdf = jdf.select("j", hparr.alias("hparr"))
    if tarr is None:
        tarr = _vec_arrs(ccomp)
    dot = F.aggregate(
        F.filter(
            F.zip_with(
                F.col("arr"), F.col("hparr"), lambda x, c: x * c
            ),
            lambda t: t.isNotNull(),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
    zk = (
        tarr.crossJoin(F.broadcast(hpdf))
        .select(F.col("vid").alias("vec_id"), "j", dot.alias("dot"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(
                    F.col("dot") >= 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), j)"),
                ).otherwise(F.lit(0))
            ).alias("zkey")
        )
    )
    return zk.select(
        "vec_id",
        F.row_number()
        .over(
            Window.orderBy(
                "zkey",
                _shingle_int(F.col("vec_id").cast("string")),
                "vec_id",
            )
        )
        .alias("r"),
    ).localCheckpoint(eager=True)


def _gs_edges(ccomp: DataFrame, rk: DataFrame, n: int) -> DataFrame:
    """Undirected serve graph: one NN-descent round (k=_GS_K) from the
    ring init, plus the degree-1 ring itself for connectivity."""
    _, _, topk = _nnd_round_frames(ccomp, k=_GS_K, rk=rk, n_nodes=n)
    ring1 = (
        rk.alias("a")
        .join(
            rk.alias("b"),
            F.col("b.r") == (F.col("a.r") % F.lit(max(n, 1))) + 1,
        )
        .select(
            F.col("a.vec_id").alias("v"), F.col("b.vec_id").alias("u")
        )
    )
    fwd = topk.select("v", "u").unionByName(ring1)
    return (
        fwd.union(
            fwd.select(F.col("u").alias("v"), F.col("v").alias("u"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _gs_probes(ccomp: DataFrame) -> DataFrame:
    """Held-out perturbed query probes: vec_id % _GS_QMOD == 7, each
    component shifted by an md5-derived ±200."""
    from .dedup import _shingle_int

    pert = (
        _shingle_int(
            F.concat(
                F.lit("p:"),
                F.col("vec_id").cast("string"),
                F.lit(":"),
                F.col("i").cast("string"),
            )
        )
        % 401
        - 200
    )
    return (
        ccomp.filter(F.col("vec_id") % _GS_QMOD == 7)
        .select(
            F.col("vec_id").alias("qid"),
            "i",
            (F.col("xi") + pert).alias("qi"),
        )
        .localCheckpoint(eager=True)
    )


def _vec_arrs(
    comp: DataFrame, id_col: str = "vec_id", val_col: str = "xi"
) -> DataFrame:
    """(id, arr) frame from a (id, i, val) component frame, arr ordered
    by dim index i — the array-fold d2 representation (the knn_shapley
    r14 discipline applied family-wide in r15: per-pair distances as
    one JVM zip_with+aggregate fold instead of a ×dims row blowup
    through a dim-keyed join + groupBy exchange).  Consumers pair
    values by POSITION, so a vector whose dim indices have a gap (size
    != max(i)+1) raises instead of silently mismatching dims."""
    arrs = comp.groupBy(F.col(id_col).alias("vid")).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("i").alias("i"), F.col(val_col).alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("arr"),
        F.max("i").alias("max_i"),
    )
    return arrs.select(
        "vid",
        F.when(
            F.size("arr") != F.col("max_i") + 1,
            F.raise_error(
                F.concat(
                    F.lit("_vec_arrs: dim indices of vector "),
                    F.col("vid").cast("string"),
                    F.lit(" are not dense 0..n-1"),
                )
            ),
        )
        .otherwise(F.col("arr"))
        .alias("arr"),
    )


def _arr_d2(a, b):
    """Exact-integer L2 between two component arrays: quantized-integer
    terms summed as exact bigints (order-independent, so bit-identical
    to the dim-join + SUM it replaces).  NULL terms (zip_with length
    padding / NULL elements) are dropped exactly as the inner dim join
    dropped non-matching dims."""
    return F.aggregate(
        F.filter(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            lambda t: t.isNotNull(),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def _gs_qdist_arr(
    pairs: DataFrame, qarr: DataFrame, tarr: DataFrame
) -> DataFrame:
    """Exact-integer L2 of (qid, u) candidate pairs — the array-fold
    form of the old dim-join pyramid: attach the (bounded) probe
    vectors broadcast, join the corpus vectors on u (keyed — the
    corpus side stays a partitioned scan at scale), fold per pair.
    No groupBy exchange and no pairs×dims intermediate.  Any extra
    pairs columns (the multi-setting cfg tag) ride through."""
    keep = list(pairs.columns)
    return (
        pairs.join(
            F.broadcast(qarr.select(F.col("vid").alias("qid"), F.col("arr").alias("qa"))),
            "qid",
        )
        .join(
            tarr.select(F.col("vid").alias("u"), F.col("arr").alias("ta")),
            "u",
        )
        .select(*keep, _arr_d2(F.col("qa"), F.col("ta")).alias("d2"))
    )


def _gs_beam_multi(
    seed_pairs: DataFrame,
    bw: dict[int, int],
    qarr: DataFrame,
    tarr: DataFrame,
    edges: DataFrame,
    h: int,
) -> DataFrame:
    """Best-first beam search for SEVERAL settings sharing one hop
    count, as ONE cfg-tagged chain: ``seed_pairs`` carries
    (cfg, qid, u), ``bw`` maps cfg → beam width.  Per-(cfg, qid)
    frontier selection, neighbor expansion and dedup are exactly the
    single-setting algebra with cfg joined into every key, so each
    setting's visited set is byte-identical to its own chain — but the
    recall table's 3 settings (all h=4) now pay 4 hop barriers instead
    of 12 (r15; the r14 jobstat showed these rows are scheduling-bound
    at ~0.1 s/job).  One (cfg, qid, u, d2, exp) state frame, one
    checkpoint per hop; serve work per query stays bounded by
    seeds + h·b expansions, never the corpus."""
    bexpr = None
    for cfg, b in bw.items():
        case = F.when(F.col("cfg") == cfg, F.lit(b))
        bexpr = case if bexpr is None else bexpr.when(
            F.col("cfg") == cfg, F.lit(b)
        )
    st = (
        _gs_qdist_arr(seed_pairs, qarr, tarr)
        .withColumn("exp", F.lit(False))
        .localCheckpoint(eager=True)
    )
    w_beam = Window.partitionBy("cfg", "qid").orderBy("d2", "u")
    for _t in range(h):
        frontier = (
            st.filter(~F.col("exp"))
            .withColumn("rn", F.row_number().over(w_beam))
            .filter(F.col("rn") <= bexpr)
            .select("cfg", "qid", "u")
        )
        nbr = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.u") == F.col("e.v"))
            .select("f.cfg", "f.qid", F.col("e.u").alias("u"))
            .distinct()
            .join(
                st.select("cfg", "qid", "u"),
                ["cfg", "qid", "u"],
                "left_anti",
            )
        )
        st = (
            st.alias("s")
            .join(
                frontier.select(
                    "cfg", "qid", "u", F.lit(True).alias("newexp")
                ).alias("fr"),
                ["cfg", "qid", "u"],
                "left",
            )
            .select(
                "cfg",
                "qid",
                "u",
                "d2",
                (F.col("exp") | F.coalesce(F.col("newexp"), F.lit(False))).alias(
                    "exp"
                ),
            )
            .unionByName(
                _gs_qdist_arr(nbr, qarr, tarr).withColumn(
                    "exp", F.lit(False)
                )
            )
            .localCheckpoint(eager=True)
        )
    return st.select("cfg", "qid", "u", "d2")


def _gs_beam(
    qids: DataFrame,
    seeds: DataFrame,
    qarr: DataFrame,
    tarr: DataFrame,
    edges: DataFrame,
    h: int,
    b: int,
) -> DataFrame:
    """Single-setting beam search: h hops of width b from one global
    seed set, every query starting from all of it; returns the visited
    (qid, u, d2) frame.  Thin wrapper over the cfg-tagged chain (one
    setting, cfg 0)."""
    return _gs_beam_multi(
        qids.crossJoin(seeds).select(F.lit(0).alias("cfg"), "qid", "u"),
        {0: b},
        qarr,
        tarr,
        edges,
        h,
    ).select("qid", "u", "d2")


_GS_RK_SQL = f"""SELECT vec_id,
    row_number() OVER (ORDER BY zkey,
      {_SHINGLE_INT_SQL_REF.format(x="CAST(vec_id AS VARCHAR)")},
      vec_id) AS r
  FROM zk"""


def _graph_serve_oracle() -> str:
    sh = _SHINGLE_INT_SQL_REF
    h_key = (
        "'h:' || CAST(b.j AS VARCHAR) || ':' || CAST(c.i AS VARCHAR)"
    )
    hops = []
    for t in range(1, _GS_H + 1):
        pv, pe = f"v{t - 1}", f"exp{t - 1}"
        hops.append(f""",
front{t} AS MATERIALIZED (
  SELECT qid, u FROM (
    SELECT p.qid, p.u,
      row_number() OVER (PARTITION BY p.qid ORDER BY p.d2, p.u) AS rn
    FROM {pv} p LEFT JOIN {pe} e ON e.qid = p.qid AND e.u = p.u
    WHERE e.u IS NULL) WHERE rn <= {_GS_B}
),
exp{t} AS MATERIALIZED (
  SELECT qid, u FROM {pe} UNION SELECT qid, u FROM front{t}
),
nd{t} AS MATERIALIZED (
  SELECT n.qid, n.u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM (
    SELECT DISTINCT f.qid, ed.u
    FROM front{t} f JOIN edges ed ON ed.v = f.u
    WHERE NOT EXISTS (
      SELECT 1 FROM {pv} pv WHERE pv.qid = f.qid AND pv.u = ed.u)
  ) n
  JOIN qcomp q ON q.qid = n.qid
  JOIN ccomp c ON c.vec_id = n.u AND c.i = q.i
  GROUP BY n.qid, n.u
),
v{t} AS MATERIALIZED (
  SELECT qid, u, d2 FROM {pv}
  UNION ALL SELECT qid, u, d2 FROM nd{t}
)""")
    return f"""
WITH comp0 AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS mxi
  FROM embeddings
),
nn0 AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM comp0),
pars AS (
  SELECT n,
    GREATEST({_GS_NC_MIN}, CAST(n // {_GS_CELL} AS BIGINT)) AS ncl,
    GREATEST(1, CAST(
      n // ({_GS_SEED_MULT} * GREATEST({_GS_NC_MIN}, CAST(n // {_GS_CELL} AS BIGINT)))
      AS BIGINT)) AS stride
  FROM nn0
),
ccomp AS MATERIALIZED (
  SELECT vec_id, i,
    CAST(
      (({sh.format(x="'g:' || CAST(cl AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 2001) - 1000) * 1000
      + CASE WHEN i < 2
             THEN ((mxi % 2001) + 2001) % 2001 - 1000
             ELSE 0 END AS BIGINT) AS xi
  FROM (
    SELECT c0.vec_id, c0.i, c0.mxi,
      CAST({sh.format(x="'c:' || CAST(c0.vec_id AS VARCHAR)")} % p.ncl AS BIGINT) AS cl
    FROM comp0 c0, pars p)
),
zk AS MATERIALIZED (
  SELECT vec_id,
    SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS zkey
  FROM (
    SELECT c.vec_id, b.j,
      SUM(({sh.format(x=h_key)} % 2001 - 1000) * c.xi) AS dot
    FROM ccomp c CROSS JOIN (SELECT unnest(range(0, {_GS_NBITS})) AS j) b
    GROUP BY c.vec_id, b.j)
  GROUP BY vec_id
),
{_nnd_chain_sql(_GS_K, _GS_RK_SQL, "ccomp")},
graph AS (SELECT v, u FROM ranked WHERE rn <= {_GS_K}),
ring1 AS (
  SELECT a.vec_id AS v, b.vec_id AS u
  FROM rk a JOIN rk b ON b.r = (a.r % (SELECT n FROM nn)) + 1
),
edges AS MATERIALIZED (
  SELECT DISTINCT v, u FROM (
    SELECT v, u FROM graph UNION ALL SELECT u, v FROM graph
    UNION ALL SELECT v, u FROM ring1 UNION ALL SELECT u, v FROM ring1)
),
qcomp AS MATERIALIZED (
  SELECT vec_id AS qid, i,
    xi + ({sh.format(x="'p:' || CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 401 - 200) AS qi
  FROM ccomp WHERE vec_id % {_GS_QMOD} = 7
),
seeds AS (
  SELECT r.vec_id AS u FROM rk r, pars p WHERE (r.r - 1) % p.stride = 0
),
v0 AS MATERIALIZED (
  SELECT q.qid, s.u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM qcomp q
  CROSS JOIN seeds s
  JOIN ccomp c ON c.vec_id = s.u AND c.i = q.i
  GROUP BY q.qid, s.u
),
exp0 AS (
  SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS u WHERE FALSE
){''.join(hops)},
served AS (
  SELECT qid, u, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, u) AS rn
  FROM v{_GS_H}
),
exact AS MATERIALIZED (
  SELECT q.qid, c.vec_id AS u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM qcomp q JOIN ccomp c ON c.i = q.i
  GROUP BY q.qid, c.vec_id
),
exactr AS (
  SELECT qid, u, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, u) AS rn
  FROM exact
),
hits AS (
  SELECT s.qid, COUNT(*) AS nh
  FROM served s
  JOIN exactr e ON e.qid = s.qid AND e.u = s.u AND e.rn <= {_GS_TOPK}
  WHERE s.rn <= {_GS_TOPK}
  GROUP BY s.qid
),
vis AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited
  FROM v{_GS_H} GROUP BY qid
)
SELECT CAST(b.qid AS BIGINT) AS qid,
  vis.n_visited,
  CAST(b.u AS BIGINT) AS best_id,
  CAST(b.d2 AS DOUBLE) AS best_d2,
  CAST(e.u AS BIGINT) AS exact_id,
  CAST(e.d2 AS DOUBLE) AS exact_d2,
  CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
  b.u = e.u AS found_nn
FROM served b
JOIN exactr e ON e.qid = b.qid AND e.rn = 1
JOIN vis ON vis.qid = b.qid
LEFT JOIN hits h ON h.qid = b.qid
WHERE b.rn = 1
"""


@query("nn_graph_serve_topk", oracle=_graph_serve_oracle())
def q_nn_graph_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEAM SEARCH over the NN-descent graph — the SERVE leg of the
    graph-index family (`nn_descent_round` builds the kNN graph; this
    query answers top-k from it, the DiskANN/HNSW query side):

    1. FIXTURE: the raw embeddings are re-keyed into a deterministic
       CLUSTERED vector set (ncl = max(8, n div 62) md5-assigned
       centroids at ±1e6 per dim; per-vector offsets ±1e3 confined to
       dims 0-1 so intra-cluster geometry is low-dim NAVIGABLE) — the
       r11 probe showed the raw near-uniform 64-d fixture gives a
       graph-serve ~3% recall@3 (SCALE.md §NN-descent), so the serve
       receipt needs cluster structure, synthesized with the same
       md5-derived discipline every other fixture uses.
    2. BUILD: one NN-descent round (`_nnd_round_frames`, k={_GS_K})
       from an LSH-ORDERED ring init — {_GS_NBITS} md5-derived
       hyperplane sign bits order the node ring, so initial neighbors
       are already mostly intra-cluster and one round converges the
       local edges (the standard LSH-seeded NN-descent recipe; a
       hash-random ring needs O(log n) rounds to bootstrap locality).
    3. SERVE: {_GS_SEED_MULT}·ncl entry seeds EVENLY SPACED on the LSH
       ring (clusters are contiguous ring segments, so every cluster
       is seeded deterministically — no coverage gambling); then
       {_GS_H} hops of best-first beam search (width {_GS_B}): each hop
       expands the best unexpanded visited nodes and scores their
       graph neighbors (converged kNN edges + the degree-1 ring for
       connectivity) against the query by exact-integer L2.
    4. AUDIT: exact top-{_GS_TOPK} per query (oracle-bounded brute
       leg) → per-query n_hits (recall@{_GS_TOPK} numerator) and
       found_nn; measured recall@4 = 1.00 at sf0.001/0.01/0.1 with
       ~10-20% of nodes visited (pinned in tests/test_plans.py).

    Queries are held-out perturbed probes (vec_id % {_GS_QMOD} == 7,
    ±200 md5 perturbation per dim).

    Scale shape: the LSH bits and ring ranks are node-directory-sized;
    the build round is the `nn_descent_round` plan (O(n·k²) candidate
    pairs, never all-pairs); serve work per query is BOUNDED BY THE
    BEAM, not the corpus — seeds + H·B expansions ≈ 160 + 32·deg
    distance evaluations regardless of n (visited fraction falls as
    1/n; the brute audit leg is the fixture-bounded oracle check, not
    the serve path).  At 100 TB the graph and ring live as bucketed
    tables keyed by node id, seeds shrink to a routing directory, and
    each hop is one keyed join — the SPANN/DiskANN deployment shape."""
    from .dedup import _shingle_int

    emb = load_table(spark, sf_dir, "embeddings")
    comp0 = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    ).select("vec_id", "i", _mi(F.col("x")).alias("mxi"))
    # node-directory scalar (routing state, not data); counted over the
    # EXPLODED components so NULL/empty-embedding rows are not nodes,
    # matching the oracle's COUNT(DISTINCT vec_id) FROM comp0
    n = comp0.select("vec_id").distinct().count()
    ncl = max(_GS_NC_MIN, n // _GS_CELL)
    stride = max(1, n // (_GS_SEED_MULT * ncl))
    cl = (
        _shingle_int(
            F.concat(F.lit("c:"), F.col("vec_id").cast("string"))
        )
        % ncl
    )
    cent = (
        _shingle_int(
            F.concat(
                F.lit("g:"),
                cl.cast("string"),
                F.lit(":"),
                F.col("i").cast("string"),
            )
        )
        % 2001
        - 1000
    ) * 1000
    off = (
        F.when(
            F.col("i") < 2,
            ((F.col("mxi") % 2001) + 2001) % 2001 - 1000,
        )
        .otherwise(F.lit(0))
    )
    ccomp = (
        comp0.select(
            "vec_id", "i", (cent + off).cast("bigint").alias("xi")
        )
        .localCheckpoint(eager=True)
    )
    # spread before the folds: AQE collapses the sub-advisory groupBy
    # exchange to 1 partition, serializing the exact-leg fold behind
    # one core (~1 KB/row bounds the 64-dim integer arrays)
    tarr = fan_out_small_frame(_vec_arrs(ccomp), n * 1024).localCheckpoint(
        eager=True
    )
    qcomp = _gs_probes(ccomp)
    qids = qcomp.select("qid").distinct()
    w_beam = Window.partitionBy("qid").orderBy("d2", "u")
    # Array-fold d2 frames (r15): corpus and probe vectors as per-id
    # arrays, distances as broadcast-probe zip_with folds — the exact
    # leg loses its probes×corpus×dims dim-join pyramid (the
    # knn_shapley shape), the beam hops lose one exchange each.
    qarr = _vec_arrs(qcomp, id_col="qid", val_col="qi").localCheckpoint(
        eager=True
    )
    # The exact-audit leg needs only (tarr, qarr), so the WHOLE build
    # chain (LSH ring → NND edges → beam walk) overlaps it from two
    # driver threads (guide §2.6) — r15 moved ring/edges inside the
    # beam leg; they were ~2.7 s of serial barriers ahead of the pool.
    def _exact_leg() -> DataFrame:
        return (
            tarr.select(F.col("vid").alias("u"), F.col("arr").alias("ta"))
            .crossJoin(
                F.broadcast(
                    qarr.select(
                        F.col("vid").alias("qid"), F.col("arr").alias("qa")
                    )
                )
            )
            .select(
                "qid", "u", _arr_d2(F.col("qa"), F.col("ta")).alias("d2")
            )
            .withColumn("rn", F.row_number().over(w_beam))
            .localCheckpoint(eager=True)
        )

    def _beam_leg() -> DataFrame:
        rk = _gs_ring(spark, ccomp, tarr=tarr)
        edges = _gs_edges(ccomp, rk, n)
        seeds = rk.filter((F.col("r") - 1) % stride == 0).select(
            F.col("vec_id").alias("u")
        )
        return _gs_beam(qids, seeds, qarr, tarr, edges, _GS_H, _GS_B)

    visited, exact = run_legs(spark, _beam_leg, _exact_leg)
    served = visited.withColumn("rn", F.row_number().over(w_beam))
    hits = (
        served.filter(F.col("rn") <= _GS_TOPK)
        .select("qid", "u")
        .join(
            exact.filter(F.col("rn") <= _GS_TOPK).select("qid", "u"),
            ["qid", "u"],
        )
        .groupBy("qid")
        .agg(F.count("*").alias("nh"))
    )
    vis = visited.groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_visited")
    )
    best = served.filter(F.col("rn") == 1).select(
        "qid", F.col("u").alias("best_id"), F.col("d2").alias("bd2")
    )
    ebest = exact.filter(F.col("rn") == 1).select(
        "qid", F.col("u").alias("exact_id"), F.col("d2").alias("ed2")
    )
    return (
        best.join(ebest, "qid")
        .join(vis, "qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").cast("bigint").alias("qid"),
            "n_visited",
            F.col("best_id").cast("bigint").alias("best_id"),
            F.col("bd2").cast("double").alias("best_d2"),
            F.col("exact_id").cast("bigint").alias("exact_id"),
            F.col("ed2").cast("double").alias("exact_d2"),
            F.coalesce(F.col("nh"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            (F.col("best_id") == F.col("exact_id")).alias("found_nn"),
        )
    )


# ---------------------------------------------------------------------------
# Graph-serve ADVERSARIAL recall audit — the same beam search on the RAW
# (non-navigable) fixture, at two beam widths: the tuning table for the
# beam/hop levers (every other ANN family member has this audit twin)
# ---------------------------------------------------------------------------

# (hops, beam, seeding) rows of the recall table: the two stride-seeded
# beam widths from r13, plus the IVF-ROUTED seeding lever (VERDICT-r13
# item 7) — same hops/beam as the cheap row, seeds re-keyed by layout
_GSA_SETTINGS = [(4, 2, "stride"), (4, 8, "stride"), (4, 2, "ivf")]


def _graph_serve_adv_oracle() -> str:
    sh = _SHINGLE_INT_SQL_REF
    h_key = (
        "'h:' || CAST(b.j AS VARCHAR) || ':' || CAST(c.i AS VARCHAR)"
    )
    chains = []
    finals = []
    for h, b, mode in _GSA_SETTINGS:
        sfx = f"_b{b}" if mode == "stride" else f"_ivf{b}"
        v0name = "v0" if mode == "stride" else "v0i"
        hops = []
        for t in range(1, h + 1):
            pv = f"v{t - 1}{sfx}" if t > 1 else v0name
            pe = f"exp{t - 1}{sfx}" if t > 1 else "exp0"
            hops.append(f""",
front{t}{sfx} AS MATERIALIZED (
  SELECT qid, u FROM (
    SELECT p.qid, p.u,
      row_number() OVER (PARTITION BY p.qid ORDER BY p.d2, p.u) AS rn
    FROM {pv} p LEFT JOIN {pe} e ON e.qid = p.qid AND e.u = p.u
    WHERE e.u IS NULL) WHERE rn <= {b}
),
exp{t}{sfx} AS MATERIALIZED (
  SELECT qid, u FROM {pe} UNION SELECT qid, u FROM front{t}{sfx}
),
nd{t}{sfx} AS MATERIALIZED (
  SELECT n.qid, n.u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM (
    SELECT DISTINCT f.qid, ed.u
    FROM front{t}{sfx} f JOIN edges ed ON ed.v = f.u
    WHERE NOT EXISTS (
      SELECT 1 FROM {pv} pv WHERE pv.qid = f.qid AND pv.u = ed.u)
  ) n
  JOIN qcomp q ON q.qid = n.qid
  JOIN ccomp c ON c.vec_id = n.u AND c.i = q.i
  GROUP BY n.qid, n.u
),
v{t}{sfx} AS MATERIALIZED (
  SELECT qid, u, d2 FROM {pv}
  UNION ALL SELECT qid, u, d2 FROM nd{t}{sfx}
)""")
        chains.append(
            "".join(hops)
            + f""",
served{sfx} AS (
  SELECT qid, u, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, u) AS rn
  FROM v{h}{sfx}
),
hits{sfx} AS (
  SELECT s.qid, COUNT(*) AS nh
  FROM served{sfx} s
  JOIN exactr e ON e.qid = s.qid AND e.u = s.u AND e.rn <= {_GS_TOPK}
  WHERE s.rn <= {_GS_TOPK}
  GROUP BY s.qid
),
vis{sfx} AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited
  FROM v{h}{sfx} GROUP BY qid
),
agg{sfx} AS (
  SELECT COUNT(*) AS nq,
    SUM(CASE WHEN s.u = e.u THEN 1 ELSE 0 END) AS nfound,
    SUM(COALESCE(hh.nh, 0)) AS nhits,
    SUM(v.n_visited) AS nvis
  FROM served{sfx} s
  JOIN exactr e ON e.qid = s.qid AND e.rn = 1
  JOIN vis{sfx} v ON v.qid = s.qid
  LEFT JOIN hits{sfx} hh ON hh.qid = s.qid
  WHERE s.rn = 1
)"""
        )
        finals.append(f"""SELECT '{mode}' AS seeding,
  CAST({b} AS BIGINT) AS beam,
  CAST({h} AS BIGINT) AS hops,
  CAST(nq AS BIGINT) AS n_queries,
  CAST(nfound AS BIGINT) AS n_found_nn,
  CAST(nhits AS BIGINT) AS n_hits,
  CAST(nhits AS DOUBLE) / CAST({_GS_TOPK} * nq AS DOUBLE) AS recall_at4,
  CAST(nvis AS DOUBLE) / CAST(nq AS DOUBLE) AS mean_visited
FROM agg{sfx}""")
    return f"""
WITH comp0 AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS mxi
  FROM embeddings
),
ccomp AS MATERIALIZED (SELECT vec_id, i, mxi AS xi FROM comp0),
nn0 AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM comp0),
pars AS (
  SELECT n,
    GREATEST(1, CAST(
      n // ({_GS_SEED_MULT} * GREATEST({_GS_NC_MIN}, CAST(n // {_GS_CELL} AS BIGINT)))
      AS BIGINT)) AS stride
  FROM nn0
),
zk AS MATERIALIZED (
  SELECT vec_id,
    SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS zkey
  FROM (
    SELECT c.vec_id, b.j,
      SUM(({sh.format(x=h_key)} % 2001 - 1000) * c.xi) AS dot
    FROM ccomp c CROSS JOIN (SELECT unnest(range(0, {_GS_NBITS})) AS j) b
    GROUP BY c.vec_id, b.j)
  GROUP BY vec_id
),
{_nnd_chain_sql(_GS_K, _GS_RK_SQL, "ccomp")},
graph AS (SELECT v, u FROM ranked WHERE rn <= {_GS_K}),
ring1 AS (
  SELECT a.vec_id AS v, b.vec_id AS u
  FROM rk a JOIN rk b ON b.r = (a.r % (SELECT n FROM nn)) + 1
),
edges AS MATERIALIZED (
  SELECT DISTINCT v, u FROM (
    SELECT v, u FROM graph UNION ALL SELECT u, v FROM graph
    UNION ALL SELECT v, u FROM ring1 UNION ALL SELECT u, v FROM ring1)
),
qcomp AS MATERIALIZED (
  SELECT vec_id AS qid, i,
    xi + ({sh.format(x="'p:' || CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 401 - 200) AS qi
  FROM ccomp WHERE vec_id % {_GS_QMOD} = 7
),
seeds AS (
  SELECT r.vec_id AS u FROM rk r, pars p WHERE (r.r - 1) % p.stride = 0
),
v0 AS MATERIALIZED (
  SELECT q.qid, s.u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM qcomp q
  CROSS JOIN seeds s
  JOIN ccomp c ON c.vec_id = s.u AND c.i = q.i
  GROUP BY q.qid, s.u
),
exp0 AS (
  SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS u WHERE FALSE
),
exact AS MATERIALIZED (
  SELECT q.qid, c.vec_id AS u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM qcomp q JOIN ccomp c ON c.i = q.i
  GROUP BY q.qid, c.vec_id
),
exactr AS MATERIALIZED (
  SELECT qid, u, d2,
    row_number() OVER (PARTITION BY qid ORDER BY d2, u) AS rn
  FROM exact
),
gcent0 AS (  -- IVF seeding lever: train the coarse quantizer on the
  -- SAME raw fixture (2 requantized Lloyd rounds, the
  -- ivf_trained_topk recipe), route each query to its cell, and seed
  -- the beam from that cell's members instead of the global stride set
  SELECT vec_id AS cid, i, xi AS ci FROM ccomp
  WHERE vec_id < {_KMEANS_K}
),{_lloyd_round_sql('_g1', 'gcent0', comp='ccomp')},
gcent2 AS (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means_g1
),{_lloyd_round_sql('_g2', 'gcent2', comp='ccomp')},
gcent3 AS MATERIALIZED (
  SELECT cid, i, {_MI_SQL.format(x='mean_x')} AS ci FROM means_g2
),
gsqc3 AS (SELECT cid, SUM(ci * ci) AS sq_c FROM gcent3 GROUP BY cid),
gdots3 AS (
  SELECT v.vec_id, c.cid, SUM(v.xi * c.ci) AS dot_i
  FROM ccomp v JOIN gcent3 c ON v.i = c.i
  GROUP BY 1, 2
),
assign_g3 AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id
                         ORDER BY s.sq_c - 2 * d.dot_i, cid) AS rn
    FROM gdots3 d JOIN gsqc3 s USING (cid)
  ) WHERE rn = 1
),
qdots_g AS (
  SELECT q.qid, c.cid, SUM(q.qi * c.ci) AS dot_i
  FROM qcomp q JOIN gcent3 c ON c.i = q.i
  GROUP BY 1, 2
),
rc AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT d.qid, d.cid,
      row_number() OVER (PARTITION BY d.qid
                         ORDER BY s.sq_c - 2 * d.dot_i, d.cid) AS rn
    FROM qdots_g d JOIN gsqc3 s USING (cid)
  ) WHERE rn = 1
),
aseeds AS MATERIALIZED (
  SELECT r.qid, a.vec_id AS u FROM rc r JOIN assign_g3 a USING (cid)
),
v0i AS MATERIALIZED (
  SELECT p.qid, p.u, SUM((q.qi - c.xi) * (q.qi - c.xi)) AS d2
  FROM aseeds p
  JOIN qcomp q ON q.qid = p.qid
  JOIN ccomp c ON c.vec_id = p.u AND c.i = q.i
  GROUP BY p.qid, p.u
){''.join(chains)}
{' UNION ALL '.join(finals)}
"""


@query("nn_graph_serve_recall_table", oracle=_graph_serve_adv_oracle())
def q_nn_graph_serve_recall_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADVERSARIAL graph-serve recall audit — the tuning table for the
    beam/hop levers, completing the audit-twin discipline the ANN
    family has everywhere else (ann_recall_audit, anchor_recall_audit,
    banding_recall_audit): the SAME build + beam-search recipe as
    `nn_graph_serve_topk`, but on the RAW near-uniform 64-d mantissa
    fixture (NO synthetic cluster structure — the geometry the r11
    probe measured at ~3% recall@3, SCALE.md §NN-descent) across THREE
    settings (hops, beam, seeding) ∈ {(4, 2, stride), (4, 8, stride),
    (4, 2, ivf)}.  Emits one AGGREGATE row per setting: query count,
    exact-NN hit count, recall@4 numerator/ratio, and mean visited
    nodes — quantifying exactly how much recall the navigable-fixture
    receipt (1.00) owes to geometry vs beam width vs seed layout, so
    the serve row's levers carry a measured degradation-and-recovery
    table instead of a single optimistic point.  The raw fixture's
    graph is NOT navigable by construction; LOW stride recall is the
    honest expected result (the audit pins the measurement, not a
    target).

    The IVF row IS the "re-key the layout" lever the r13 table's
    production lesson named (VERDICT-r13 item 7), now with a measured
    number: train the coarse quantizer on the same raw fixture (the
    `ivf_trained_topk` two-Lloyd-round recipe via `_trained_centroids`
    / `_trained_inverted_file`), route each query to its nearest cell,
    and seed the beam from that cell's members instead of the global
    stride set.  Measured at sf0.001: recall@4 0.30 (stride, beam 2) →
    0.57 (stride, beam 8) → 0.69 (ivf, beam 2) with mean visited 88 →
    209 → 121 — layout-aware seeding beats a 4× wider beam at ~60% of
    its serve cost, and every query's cell contains its true NN
    (n_found_nn = n_queries).

    Scale shape: identical to the serve row — ring/zk are
    node-directory-sized, the build round is the NND plan, per-query
    serve work is seeds + h·b expansions (IVF seeding adds one
    broadcast-centroid routing join and swaps the global seed set for
    a cell-sized per-query one); the brute exact leg is the
    fixture-bounded oracle check."""
    hop_counts = {h for h, _b, _mode in _GSA_SETTINGS}
    if len(hop_counts) != 1:
        raise ValueError(
            "nn_graph_serve_recall_table runs every _GSA_SETTINGS row in one "
            f"beam chain, so all rows need one hop count; got {sorted(hop_counts)}"
        )
    (hops,) = hop_counts
    emb = load_table(spark, sf_dir, "embeddings")
    ccomp = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "x"
            ),
        )
        .select("vec_id", "i", _mi(F.col("x")).alias("xi"))
        .localCheckpoint(eager=True)
    )
    n = ccomp.select("vec_id").distinct().count()
    ncl = max(_GS_NC_MIN, n // _GS_CELL)
    stride = max(1, n // (_GS_SEED_MULT * ncl))
    # spread before the folds: AQE collapses the sub-advisory groupBy
    # exchange to 1 partition, serializing the exact-leg fold behind
    # one core (~1 KB/row bounds the 64-dim integer arrays)
    tarr = fan_out_small_frame(_vec_arrs(ccomp), n * 1024).localCheckpoint(
        eager=True
    )
    qcomp = _gs_probes(ccomp)
    qids = qcomp.select("qid").distinct()
    w_beam = Window.partitionBy("qid").orderBy("d2", "u")
    # Array-fold d2 frames (r15) — see q_nn_graph_serve_topk; the ring/
    # edges build moved inside the beam leg so the exact-audit leg
    # overlaps the whole build chain, not just the walk (§2.6)
    qarr = _vec_arrs(qcomp, id_col="qid", val_col="qi").localCheckpoint(
        eager=True
    )
    def _exact_leg() -> DataFrame:
        return (
            tarr.select(F.col("vid").alias("u"), F.col("arr").alias("ta"))
            .crossJoin(
                F.broadcast(
                    qarr.select(
                        F.col("vid").alias("qid"), F.col("arr").alias("qa")
                    )
                )
            )
            .select(
                "qid", "u", _arr_d2(F.col("qa"), F.col("ta")).alias("d2")
            )
            .withColumn("rn", F.row_number().over(w_beam))
            .localCheckpoint(eager=True)
        )

    def _graph_subleg() -> tuple[DataFrame, DataFrame, DataFrame]:
        rk = _gs_ring(spark, ccomp, tarr=tarr)
        edges = _gs_edges(ccomp, rk, n)
        seeds = rk.filter((F.col("r") - 1) % stride == 0).select(
            F.col("vec_id").alias("u")
        )
        return rk, edges, seeds

    def _beam_leg() -> DataFrame:
        # the IVF quantizer training needs only ccomp — overlap it with
        # the ring/edges graph build on nested legs (§2.6;
        # both sub-legs were serial links of this leg's critical path)
        (rk, edges, seeds), cent3 = run_legs(
            spark,
            _graph_subleg,
            lambda: _trained_centroids(ccomp).localCheckpoint(eager=True),
        )
        # IVF seeding lever: train the coarse quantizer on the SAME raw
        # fixture (the ivf_trained_topk recipe), route each query to its
        # cell, seed the beam from that cell's members
        assign3 = _trained_inverted_file(ccomp, cent3=cent3)
        qsqc = cent3.groupBy("cid").agg(
            F.sum(F.col("ci") * F.col("ci")).alias("sq_c")
        )
        qdots = (
            qcomp.join(F.broadcast(cent3), "i")
            .groupBy("qid", "cid")
            .agg(F.sum(F.col("qi") * F.col("ci")).alias("dot_i"))
        )
        rdist = F.col("sq_c") - F.lit(2) * F.col("dot_i")
        rc = (
            qdots.join(F.broadcast(qsqc), "cid")
            .groupBy("qid")
            .agg(
                F.min(F.struct(rdist.alias("d"), F.col("cid"))).alias("best")
            )
            .select("qid", F.col("best.cid").alias("cid"))
        )
        aseeds = rc.join(assign3, "cid").select(
            "qid", F.col("vec_id").alias("u")
        )
        # All three settings share h=4 (checked on entry), so they run
        # as ONE cfg-tagged chain: 4 hop barriers total instead of 4 per
        # setting (r15; each setting's visited set is byte-identical to its own
        # chain — the cfg tag is in every key).
        seed_pairs = None
        for cfg, (_h, _b, mode) in enumerate(_GSA_SETTINGS):
            sp = (
                (qids.crossJoin(seeds) if mode == "stride" else aseeds)
                .select(F.lit(cfg).alias("cfg"), "qid", "u")
            )
            seed_pairs = sp if seed_pairs is None else seed_pairs.unionByName(sp)
        bw = {cfg: s[1] for cfg, s in enumerate(_GSA_SETTINGS)}
        return _gs_beam_multi(seed_pairs, bw, qarr, tarr, edges, hops)

    # The exact-audit leg and the (IVF train → unified beam chain) leg
    # are independent job chains off the same checkpointed frames; run
    # them from two driver threads so the audit's tasks back-fill the
    # chain's barriers (optimization guide §2.6).
    exactr, visited_all = run_legs(spark, _exact_leg, _beam_leg)
    ebest = exactr.filter(F.col("rn") == 1).select(
        "qid", F.col("u").alias("eu")
    )
    etop = exactr.filter(F.col("rn") <= _GS_TOPK).select("qid", "u")
    out = None
    for cfg, (h, b, mode) in enumerate(_GSA_SETTINGS):
        visited = visited_all.filter(F.col("cfg") == cfg).select(
            "qid", "u", "d2"
        )
        served = visited.withColumn("rn", F.row_number().over(w_beam))
        hits = (
            served.filter(F.col("rn") <= _GS_TOPK)
            .select("qid", "u")
            .join(etop, ["qid", "u"])
            .groupBy("qid")
            .agg(F.count("*").alias("nh"))
        )
        vis = visited.groupBy("qid").agg(
            F.count("*").cast("bigint").alias("n_visited")
        )
        agg = (
            served.filter(F.col("rn") == 1)
            .join(ebest, "qid")
            .join(vis, "qid")
            .join(hits, "qid", "left")
            .agg(
                F.count("*").alias("nq"),
                F.sum(
                    F.when(F.col("u") == F.col("eu"), 1).otherwise(0)
                ).alias("nfound"),
                F.sum(F.coalesce(F.col("nh"), F.lit(0))).alias("nhits"),
                F.sum("n_visited").alias("nvis"),
            )
            .select(
                F.lit(mode).alias("seeding"),
                F.lit(b).cast("bigint").alias("beam"),
                F.lit(h).cast("bigint").alias("hops"),
                F.col("nq").cast("bigint").alias("n_queries"),
                F.col("nfound").cast("bigint").alias("n_found_nn"),
                F.col("nhits").cast("bigint").alias("n_hits"),
                (
                    F.col("nhits").cast("double")
                    / (F.lit(_GS_TOPK) * F.col("nq")).cast("double")
                ).alias("recall_at4"),
                (
                    F.col("nvis").cast("double")
                    / F.col("nq").cast("double")
                ).alias("mean_visited"),
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out


# ---------------------------------------------------------------------------
# KNN-Shapley data valuation — closed-form training-data attribution
# (which corpus points help/hurt a probe set), the data-market primitive
# ---------------------------------------------------------------------------

_KSH_K = 5  # KNN vote size the utility is defined over
_KSH_QMOD = 23  # probe set: vec_id % 23 == 7 (same held-out convention)
_KSH_Q = 1_000_000_000_000  # 1e-12 quantization grain of the 1/j terms

_KSH_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
lab AS (SELECT doc_id, lang FROM documents),
d AS MATERIALIZED (
  SELECT q.vec_id AS qid, t.vec_id AS tid,
    SUM((q.xi - t.xi) * (q.xi - t.xi)) AS d2
  FROM comp q JOIN comp t
    ON t.i = q.i AND t.vec_id % {_KSH_QMOD} != 7
  WHERE q.vec_id % {_KSH_QMOD} = 7
  GROUP BY 1, 2
),
rk AS (
  SELECT qid, tid,
    row_number() OVER (PARTITION BY qid ORDER BY d2, tid) AS rn,
    COUNT(*) OVER (PARTITION BY qid) AS nt
  FROM d
),
lb AS (
  SELECT r.qid, r.tid, r.rn, r.nt,
    CASE WHEN lt.lang = lq.lang THEN 1 ELSE 0 END AS delta
  FROM rk r
  JOIN lab lt ON lt.doc_id = r.tid
  JOIN lab lq ON lq.doc_id = r.qid
),
terms AS (
  SELECT qid, tid, rn, delta,
    CASE WHEN rn = nt THEN delta * CAST({_KSH_Q} // nt AS BIGINT)
         ELSE (delta - LEAD(delta) OVER (PARTITION BY qid ORDER BY rn))
              * CAST({_KSH_Q} // GREATEST(rn, {_KSH_K}) AS BIGINT)
    END AS t
  FROM lb
),
sfx AS (
  SELECT qid, tid, rn,
    SUM(t) OVER (PARTITION BY qid ORDER BY rn DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM terms
),
agg AS (
  SELECT tid,
    CAST(COUNT(*) AS BIGINT) AS n_test,
    CAST(SUM(s) AS BIGINT) AS shapley_num,
    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nn1
  FROM sfx GROUP BY tid
)
SELECT a.tid AS doc_id, l.lang, a.n_test, a.n_nn1, a.shapley_num,
  CAST(a.shapley_num AS DOUBLE) / CAST(a.n_test AS DOUBLE)
    / 1000000000000.0 AS shapley_value
FROM agg a JOIN lab l ON l.doc_id = a.tid
"""


@query("knn_shapley_valuation", oracle=_KSH_ORACLE)
def q_knn_shapley_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN-SHAPLEY data valuation — EXACT per-point training-data
    attribution (Jia et al., VLDB'19: for the KNN utility the Shapley
    value has a closed form), the data-market / data-curation
    primitive: which corpus points HELP a probe set's predictions and
    which actively hurt (negative values → mislabeled/poisoned
    candidates, the valuation complement of dedup and quality
    scoring).

    For each probe (vec_id % 23 == 7, embeddings as features,
    document lang as label), train points rank by exact-integer L2
    (ties → smaller id); the paper's recursion
    s_N = δ_N/N;  s_i = s_(i+1) + (δ_i − δ_(i+1)) / max(i, K)
    telescopes into a SUFFIX SUM of per-rank terms, each term
    quantized to the 1e-12 integer grain via nonnegative integer
    division (δ differences are in {{-1,0,1}}; 1e12 div j is
    floor-quantized — 1e12 is not divisible by every rank j, so terms
    are 1e-12-grain approximations of 1/j, not exact rationals, but
    the floors are identical in both engines; the RBO audit picks an
    lcm scale where true exactness matters), so the whole valuation
    is engine-identical integer arithmetic — one double per output
    row at the end.  The
    per-probe values then AVERAGE over the probe set (exact integer
    sum, one division).  n_nn1 (how often the point is the 1-NN) is
    the interpretability sidecar.

    Scale shape: ranking is the exact-ANN audit-leg shape
    (probes × corpus, fixture-bounded here; production swaps in the
    served ANN top-M with the same suffix recursion truncated at M —
    the paper's own approximation); the suffix sum and the per-point
    fold ride one probe-keyed window shuffle; output is corpus-sized
    (one row per train point), the whole point of the operator."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Exact L2 as a per-pair JVM array fold (r14 optimization): the old
    # shape exploded components and equi-joined probes to corpus on the
    # DIMENSION INDEX — a join whose key has only dim distinct values,
    # capping parallelism at dim tasks and materializing a
    # probes × corpus × dims intermediate through one skewed exchange
    # (measured: 4.8 s in 14 tasks).  The probe side is the bounded
    # set (the docstring's audit-leg framing), so broadcast the probe
    # VECTORS and compute d2 = Σ(qi−ti)² with zip_with+aggregate on the
    # corpus scan: same round-quantized integers, same exact integer
    # sum (order-independent), no wide intermediate, corpus-scan
    # parallelism.
    arr = F.col("embedding").cast("array<double>")
    # NULL/empty embeddings must vanish exactly as they did under
    # posexplode (and as the oracle's unnest does) — keeping them as
    # NULL arrays would rank NULL-d2 pairs (the null-probe pin caught
    # this)
    has_vec = F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    qv = emb.filter(has_vec & (F.col("vec_id") % _KSH_QMOD == 7)).select(
        F.col("vec_id").alias("qid"),
        F.transform(arr, _mi).alias("qarr"),
    )
    tv = emb.filter(has_vec & (F.col("vec_id") % _KSH_QMOD != 7)).select(
        F.col("vec_id").alias("tid"),
        F.transform(arr, _mi).alias("tarr"),
    )
    lab = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # ADVICE-r14: zip_with pads length mismatches with NULL and a NULL
    # element NULL-poisons its term, where the oracle's unnest join
    # SUMs over the non-NULL overlapping dims (SUM skips NULLs) — drop
    # NULL terms before the fold so ragged/element-NULL feeds rank
    # identically to the oracle (fixture vectors are fixed-dims
    # non-NULL, so fixture output is unchanged).
    sqdiffs = F.filter(
        F.zip_with(
            F.col("qarr"), F.col("tarr"), lambda kq, kt: (kq - kt) * (kq - kt)
        ),
        lambda kt: kt.isNotNull(),
    )
    d = tv.crossJoin(F.broadcast(qv)).select(
        "qid",
        "tid",
        F.aggregate(
            sqdiffs, F.lit(0).cast("bigint"), lambda kacc, kx: kacc + kx
        ).alias("d2"),
    )
    w_rk = Window.partitionBy("qid").orderBy("d2", "tid")
    w_q = Window.partitionBy("qid")
    rk = d.select(
        "qid",
        "tid",
        F.row_number().over(w_rk).alias("rn"),
        F.count("*").over(w_q).alias("nt"),
    )
    lb = (
        rk.alias("r")
        .join(
            F.broadcast(lab.alias("lt")),
            F.col("lt.doc_id") == F.col("r.tid"),
        )
        .join(
            F.broadcast(lab.alias("lq")),
            F.col("lq.doc_id") == F.col("r.qid"),
        )
        .select(
            "r.qid",
            "r.tid",
            "r.rn",
            "r.nt",
            F.when(F.col("lt.lang") == F.col("lq.lang"), 1)
            .otherwise(0)
            .alias("delta"),
        )
    )
    w_rn = Window.partitionBy("qid").orderBy("rn")
    term = F.when(
        F.col("rn") == F.col("nt"),
        F.col("delta") * F.expr(f"{_KSH_Q} div nt"),
    ).otherwise(
        (F.col("delta") - F.lead("delta").over(w_rn))
        * F.expr(f"{_KSH_Q} div greatest(rn, {_KSH_K})")
    )
    terms = lb.select("qid", "tid", "rn", term.alias("t"))
    w_sfx = (
        Window.partitionBy("qid")
        .orderBy(F.col("rn").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sfx = terms.select(
        "qid", "tid", "rn", F.sum("t").over(w_sfx).alias("s")
    )
    agg = sfx.groupBy("tid").agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.sum("s").cast("bigint").alias("shapley_num"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_nn1"),
    )
    return (
        agg.alias("a")
        .join(
            F.broadcast(lab.alias("l")),
            F.col("l.doc_id") == F.col("a.tid"),
        )
        .select(
            F.col("a.tid").alias("doc_id"),
            "l.lang",
            "a.n_test",
            "a.n_nn1",
            "a.shapley_num",
            (
                F.col("a.shapley_num").cast("double")
                / F.col("a.n_test").cast("double")
                / F.lit(1e12)
            ).alias("shapley_value"),
        )
    )


# ---------------------------------------------------------------------------
# Residual quantization — the ADDITIVE quantizer family (RQ/LSQ), the
# complement of PQ's subspace split
# ---------------------------------------------------------------------------

_RQ_K1 = 4  # stage-1 codebook: seed vectors vec_id < K1
_RQ_K2 = 4  # stage-2 codebook: residuals of vec_ids K1..K1+K2-1, + zero word

_RQ_ORACLE = f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_MI_SQL.format(x='unnest(CAST(embedding AS DOUBLE[]))')} AS xi
  FROM embeddings
),
cent1 AS (
  SELECT vec_id AS c, i, xi AS ci FROM comp WHERE vec_id < {_RQ_K1}
),
sq1 AS (SELECT c, SUM(ci * ci) AS sq_c FROM cent1 GROUP BY c),
d1 AS (
  SELECT v.vec_id, c1.c,
    (SELECT sq_c FROM sq1 WHERE sq1.c = c1.c) - 2 * SUM(v.xi * c1.ci) AS dd
  FROM comp v JOIN cent1 c1 ON v.i = c1.i
  GROUP BY v.vec_id, c1.c
),
a1 AS (
  SELECT vec_id, c AS c1 FROM (
    SELECT vec_id, c, row_number() OVER (
      PARTITION BY vec_id ORDER BY dd, c) AS rn
    FROM d1) WHERE rn = 1
),
resid AS MATERIALIZED (
  SELECT v.vec_id, v.i, v.xi - c1.ci AS ri
  FROM comp v
  JOIN a1 ON a1.vec_id = v.vec_id
  JOIN cent1 c1 ON c1.c = a1.c1 AND c1.i = v.i
),
cw2 AS MATERIALIZED (
  SELECT vec_id - {_RQ_K1 - 1} AS w, i, ri AS wi
  FROM resid WHERE vec_id >= {_RQ_K1} AND vec_id < {_RQ_K1 + _RQ_K2}
  UNION ALL
  SELECT 0 AS w, i, 0 AS wi FROM (SELECT DISTINCT i FROM comp)
),
sq2 AS (SELECT w, SUM(wi * wi) AS sq_w FROM cw2 GROUP BY w),
sqr AS (SELECT vec_id, SUM(ri * ri) AS sq_r FROM resid GROUP BY vec_id),
d2 AS (
  SELECT r.vec_id, c2.w,
    (SELECT sq_w FROM sq2 WHERE sq2.w = c2.w) - 2 * SUM(r.ri * c2.wi) AS dd
  FROM resid r JOIN cw2 c2 ON r.i = c2.i
  GROUP BY r.vec_id, c2.w
),
a2 AS (
  SELECT vec_id, w AS c2, dd AS dd2 FROM (
    SELECT vec_id, w, dd, row_number() OVER (
      PARTITION BY vec_id ORDER BY dd, w) AS rn
    FROM d2) WHERE rn = 1
)
SELECT a1.vec_id,
  CAST(a1.c1 AS BIGINT) AS c1,
  CAST(a2.c2 AS BIGINT) AS c2,
  CAST(sqr.sq_r AS DOUBLE) / 100000000000000.0 AS err_stage1,
  CAST(sqr.sq_r + a2.dd2 AS DOUBLE) / 100000000000000.0 AS err_stage2,
  TRUE AS improved
FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id
JOIN sqr ON sqr.vec_id = a1.vec_id
"""


@query("rq_encode_audit", oracle=_RQ_ORACLE)
def q_rq_encode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL quantization encode — the additive-quantizer family
    (RQ/LSQ; FAISS ResidualQuantizer) beside PQ's subspace split:
    stage 1 assigns each vector to its nearest full-dim codeword
    (exact-integer argmin, min-index ties); stage 2 quantizes the
    RESIDUAL x − c1 against a second codebook built from the residuals
    of held-out seed vectors PLUS AN EXPLICIT ZERO CODEWORD (code 0)
    — the zero word makes per-vector error decrease monotone BY
    CONSTRUCTION (choosing 0 reproduces the stage-1 error exactly, so
    the argmin can only match or beat it), which the oracle states as
    improved=TRUE while Spark computes it.  Emits per vector both
    stage codes and both reconstruction errors (exact-integer sums,
    one int→double division each).

    Where PQ splits dimensions and quantizes subspaces independently,
    RQ refines the SAME full-dim space in stages — better for
    anisotropic data, and additive codebooks compose with ADC serving
    the same way (LUT per stage, sums of integer table entries).

    Scale shape: both codebooks are K·dims rows — broadcast; encoding
    is two (vector-component ⋈ broadcast codebook) partial-dot passes
    + per-vector struct-min argmins, all map-side combined; residuals
    are one join back to the chosen codeword rows.  No all-pairs
    anywhere; cost is 2·K·n component rows per stage."""
    comp = _kmeans_comp(spark, sf_dir)
    cent1 = comp.filter(F.col("vec_id") < _RQ_K1).select(
        F.col("vec_id").alias("c"), "i", F.col("xi").alias("ci")
    )
    sq1 = cent1.groupBy("c").agg(F.sum(F.col("ci") * F.col("ci")).alias("sq_c"))
    d1 = (
        comp.join(F.broadcast(cent1), "i")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("xi") * F.col("ci")).alias("dot1"))
        .join(F.broadcast(sq1), "c")
        .select(
            "vec_id",
            "c",
            (F.col("sq_c") - F.lit(2) * F.col("dot1")).alias("dd"),
        )
    )
    a1 = (
        d1.groupBy("vec_id")
        .agg(F.min(F.struct("dd", "c")).alias("best"))
        .select("vec_id", F.col("best.c").alias("c1"))
    )
    # alias both sides: a1 and cent1 both derive from comp, so unqualified
    # i/vec_id hit AMBIGUOUS_SELF_JOIN (the viterbi_segment lesson)
    resid = (
        comp.alias("v")
        .join(a1.alias("asg"), F.col("v.vec_id") == F.col("asg.vec_id"))
        .join(
            F.broadcast(cent1.alias("cb")),
            (F.col("asg.c1") == F.col("cb.c"))
            & (F.col("v.i") == F.col("cb.i")),
        )
        .select(
            F.col("v.vec_id").alias("vec_id"),
            F.col("v.i").alias("i"),
            (F.col("v.xi") - F.col("cb.ci")).alias("ri"),
        )
        .localCheckpoint(eager=True)
    )
    cw2 = (
        resid.filter(
            (F.col("vec_id") >= _RQ_K1)
            & (F.col("vec_id") < _RQ_K1 + _RQ_K2)
        )
        .select(
            (F.col("vec_id") - F.lit(_RQ_K1 - 1)).alias("w"),
            "i",
            F.col("ri").alias("wi"),
        )
        .unionByName(
            comp.select("i")
            .distinct()
            .select(
                F.lit(0).cast("long").alias("w"),
                "i",
                F.lit(0).cast("bigint").alias("wi"),
            )
        )
    )
    sq2 = cw2.groupBy("w").agg(F.sum(F.col("wi") * F.col("wi")).alias("sq_w"))
    sqr = resid.groupBy("vec_id").agg(
        F.sum(F.col("ri") * F.col("ri")).alias("sq_r")
    )
    d2 = (
        resid.join(F.broadcast(cw2), "i")
        .groupBy("vec_id", "w")
        .agg(F.sum(F.col("ri") * F.col("wi")).alias("dot2"))
        .join(F.broadcast(sq2), "w")
        .select(
            "vec_id",
            "w",
            (F.col("sq_w") - F.lit(2) * F.col("dot2")).alias("dd"),
        )
    )
    a2 = (
        d2.groupBy("vec_id")
        .agg(F.min(F.struct("dd", "w")).alias("best"))
        .select(
            "vec_id",
            F.col("best.w").alias("c2"),
            F.col("best.dd").alias("dd2"),
        )
    )
    return (
        a1.join(a2, "vec_id")
        .join(sqr, "vec_id")
        .select(
            "vec_id",
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            (F.col("sq_r").cast("double") / F.lit(1e14)).alias("err_stage1"),
            (
                (F.col("sq_r") + F.col("dd2")).cast("double") / F.lit(1e14)
            ).alias("err_stage2"),
            (F.col("dd2") <= 0).alias("improved"),
        )
    )

