"""Distributed model training + scoring: a hashed-feature linear
language classifier over `documents` — the engine's representative for
"apply a learned model to the whole corpus" (quality/language/topic
classifiers in an LLM data pipeline).

The model is multinomial-Naive-Bayes-shaped but scored LINEARLY (sum of
per-token smoothed likelihood ratios, not log products): logs would put
a transcendental in the score and break cross-engine bit-identity; the
linear scorer keeps every intermediate an exact integer (see the FLOOR
note below).  Note the fixture's five "languages" share one identical
31-word vocabulary — the only learnable signal is token FREQUENCY, so
held-out accuracy is near-baseline by construction; the operator is
the distributed train/score machinery, and a real corpus (disjoint
vocabularies) is what makes the model itself good.

Train/test hygiene reuses the hash-bucket split of `sampling.py`: the
model NEVER sees a held-out document's tokens, so the confusion matrix
is a genuine generalization measure.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_legs
from ..sources.readers import load_table
from .dedup import _ASCII_FOLD_SQL, _SHINGLE_INT_SQL, _shingle_int, ascii_fold
from .registry import query
from .sampling import _bucket_sql, hash_bucket

_V = 64  # hashed-unigram vocabulary

# FLOOR, not ROUND: (ct+1)*1e9 / (n_c+V) is a small-integer rational,
# which lands EXACTLY on .5 often enough to hit the engines' rounding
# divergence (Spark HALF_UPs the shortest decimal, DuckDB rounds the
# binary double).  ct+1 is cast to double BEFORE the *1e9 multiply: the
# int64 product would overflow at per-(bucket,class) counts above
# ~9.2e9 — Spark wraps silently where DuckDB errors — while the
# double-first multiply and the division are correctly-rounded IEEE ops,
# bit-identical in both engines at ANY count.  Floor of a bit-identical
# double is identical, with no boundary cases at all.
_SCORE_SQL = (
    "CAST(FLOOR(CAST({ct} + 1 AS DOUBLE) * 1000000000.0"
    f" / CAST({{nc}} + {_V} AS DOUBLE)) AS BIGINT)"
)

_LANG_CONFUSION_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
    {_bucket_sql(x="CAST(doc_id AS VARCHAR)")} < 80 AS is_train,
    {_SHINGLE_INT_SQL.format(x='t.tok')} % {_V} AS b
  FROM (SELECT doc_id, lang,
          unnest(str_split_regex({_ASCII_FOLD_SQL.format(x='trim(text)')},
                                 '\\s+')) AS tok
        FROM documents) t
),
ct AS (
  SELECT b, lang AS cls, COUNT(*) AS ct
  FROM tok WHERE is_train GROUP BY 1, 2
),
nc AS (SELECT cls, SUM(ct) AS n_c FROM ct GROUP BY cls),
grid AS (  -- densified (bucket x class) weight table, Laplace-smoothed
  SELECT r.b, nc.cls,
    {_SCORE_SQL.format(ct='COALESCE(ct.ct, 0)', nc='nc.n_c')} AS w
  FROM (SELECT range AS b FROM range({_V})) r
  CROSS JOIN nc
  LEFT JOIN ct ON ct.b = r.b AND ct.cls = nc.cls
),
scored AS (
  SELECT t.doc_id, t.lang, g.cls, SUM(g.w) AS s
  FROM tok t JOIN grid g ON t.b = g.b
  WHERE NOT t.is_train
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang, cls AS pred_lang FROM (
    SELECT doc_id, lang, cls,
      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT lang, pred_lang, COUNT(*) AS n_docs
FROM pred GROUP BY lang, pred_lang
"""


@query("lang_classifier_confusion", oracle=_LANG_CONFUSION_ORACLE)
def q_lang_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a hashed-unigram linear language classifier on the 80%
    hash-bucket train split, score every HELD-OUT document against all
    classes, and emit the (true, predicted) confusion counts — the
    standard 'fit a cheap classifier, sweep the corpus' pass of a
    pretraining pipeline (language ID, quality gating, topic routing).

    Engine-identical scoring: per-(bucket, class) weights are
    FLOOR-quantized smoothed frequency ratios (exact-int inputs, one
    correctly-rounded division — see _SCORE_SQL), per-document class
    scores are exact integer sums, and the argmax breaks ties to the
    lexicographically smallest class in both engines.

    Scale shape: ONE conditional-count pass over train tokens builds
    the V x classes weight grid (tiny: broadcast even at V=100k); the
    scoring pass is a broadcast join + per-(doc, class) map-side
    combined sum — the class dimension multiplies rows by |classes|
    exactly like a grouping-set Expand, nothing shuffles the corpus
    more than once.  Swapping lang for any labeled training signal
    (quality votes, topic tags) reuses the whole plan."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    grid = train_weight_grid(
        spark, d.filter(hash_bucket(F.col("doc_id")) < 80)
    )
    pred = classify_docs(d.filter(hash_bucket(F.col("doc_id")) >= 80), grid)
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))


def _tokenize_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b) hashed-unigram feature rows.  ASCII casefold
    (not Unicode lower()): the hashed buckets must agree across engines
    independent of payload — see dedup._ASCII_FOLD_SQL."""
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(ascii_fold(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).select("doc_id", "lang", (_shingle_int(F.col("tok")) % _V).alias("b"))


def train_weight_grid(spark: SparkSession, train_docs: DataFrame) -> DataFrame:
    """Fit the model: densified (b, cls, w) weight table from the train
    split — V x classes rows, checkpointed (it is the MODEL; scoring
    must never replay the training scan), always broadcast-size."""
    tok = _tokenize_buckets(train_docs)
    ct = (
        tok.groupBy("b", F.col("lang").alias("cls"))
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=True)  # V*classes rows; feeds nc and grid
    )
    nc = ct.groupBy("cls").agg(F.sum("ct").alias("n_c"))
    buckets = spark.range(_V).select(F.col("id").cast("bigint").alias("b"))
    # double-first multiply mirrors _SCORE_SQL (int64 product would
    # overflow for per-(bucket,class) counts above ~9.2e9)
    w = F.floor(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        * F.lit(1000000000.0)
        / (F.col("n_c") + _V).cast("double")
    ).cast("bigint")
    return (
        buckets.crossJoin(F.broadcast(nc))
        .join(F.broadcast(ct), ["b", "cls"], "left")
        .select("b", "cls", w.alias("w"))
        .localCheckpoint(eager=True)
    )


def classify_docs(docs: DataFrame, grid: DataFrame) -> DataFrame:
    """Score documents against a trained grid: (doc_id, lang, pred_lang).
    Broadcast join + map-side-combined integer sums; argmax ties to the
    lexicographically smallest class."""
    scored = (
        _tokenize_buckets(docs)
        .join(F.broadcast(grid), "b")
        .groupBy("doc_id", "lang", "cls")
        .agg(F.sum("w").alias("s"))
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.min(F.struct((-F.col("s")).alias("ns"), F.col("cls"))).alias("best"))
        .select("doc_id", "lang", F.col("best.cls").alias("pred_lang"))
    )


@query("stream_classify_confusion", oracle=_LANG_CONFUSION_ORACLE)
def q_stream_classify_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING model serving: the held-out split arrives as two real
    micro-batches and is scored through foreachBatch against the
    statically trained weight grid — per-document predictions are
    independent, so the drained confusion matrix must hash-match the
    batch oracle exactly (it is literally the same SQL).  See
    streaming/pipeline.py::run_stream_classify for the serving-path
    scale story (stateless; the model is the only state, broadcast into
    every trigger)."""
    from ..streaming.pipeline import run_stream_classify

    return run_stream_classify(spark, sf_dir)


def persist_model(
    spark: SparkSession, grid: DataFrame, table: str
) -> str:
    """Write a trained weight grid to the catalog as a bucketed table —
    the model-registry shape: training jobs publish (b, cls, w) tables,
    scoring jobs read them by name, and the two never share a lineage.
    Bucketed on the feature bucket ``b`` because that is the scoring
    join key: at fixture V=64 the grid broadcasts anyway, but at a
    production V of 1-10M buckets x classes the grid becomes a join
    SIDE, and the bucketed layout lets a same-bucketed token table join
    it with no exchange (tests/test_bucketed.py's co-location contract)."""
    from ..sinks.bucketed import drop_table_and_location, write_bucketed

    drop_table_and_location(spark, table)
    write_bucketed(grid, table, key="b", n_buckets=8)
    return table


@query("stored_model_confusion", oracle=_LANG_CONFUSION_ORACLE)
def q_stored_model_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_classifier_confusion with the train/serve split made
    PHYSICAL: the trained weight grid round-trips through a persisted
    catalog table (persist_model) and scoring reads the STORED model —
    same oracle, bit-identical confusion matrix.  This is the receipt
    that the model artifact survives serialization: FLOOR-quantized
    int64 weights write and read exactly (parquet bigint), so a scoring
    job in a different session — the production shape, where training
    runs nightly and scoring runs per-corpus-sweep — reproduces the
    in-lineage result to the bit."""
    import hashlib

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    grid = train_weight_grid(
        spark, d.filter(hash_bucket(F.col("doc_id")) < 80)
    )
    table = persist_model(
        spark, grid, "langmodel_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    pred = classify_docs(
        d.filter(hash_bucket(F.col("doc_id")) >= 80), spark.table(table)
    )
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))



# ---------------------------------------------------------------------------
# Margin-binned reliability — the threshold-picking table for a
# corpus-sweep classifier
# ---------------------------------------------------------------------------

_RELIABILITY_ORACLE = (
    _LANG_CONFUSION_ORACLE.split("pred AS")[0].rstrip().rstrip(",")
    + """,
ranked AS (
  SELECT doc_id, lang, cls, s,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
  FROM scored
),
tops AS (
  SELECT doc_id, lang,
    MAX(CASE WHEN rn = 1 THEN cls END) AS pred,
    MAX(CASE WHEN rn = 1 THEN s END) AS s1,
    MAX(CASE WHEN rn = 2 THEN s END) AS s2
  FROM ranked WHERE rn <= 2 GROUP BY 1, 2
),
binned AS (
  SELECT CAST(LEAST((s1 - COALESCE(s2, 0)) // 20000000, 9) AS BIGINT)
    AS margin_bin,
    CASE WHEN pred = lang THEN 1 ELSE 0 END AS c
  FROM tops
)
SELECT margin_bin,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(c) AS BIGINT) AS n_correct,
  CAST(SUM(c) AS DOUBLE) / COUNT(*) AS accuracy
FROM binned GROUP BY margin_bin
"""
)


@query("classifier_margin_reliability", oracle=_RELIABILITY_ORACLE)
def q_classifier_margin_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability table for the corpus-sweep classifier: held-out
    documents bucketed by prediction MARGIN (top-1 minus top-2 integer
    class score — the engine-exact confidence proxy; softmax would put
    transcendentals in the decision), with per-bin accuracy.  This is
    the table a pipeline reads to pick the keep/drop threshold for a
    quality or language gate ('only trust predictions with margin above
    bin 6') and to detect miscalibration drift after retraining —
    the calibration half of model scoring, beside the confusion matrix.

    Engine-identical: margins are exact int64 differences, bin edges
    integer division (width 2e7, capped at bin 9), the accuracy one
    double division per bin.  Top-2 extraction is a per-doc rank window
    over |classes| rows.

    Scale shape: identical to lang_classifier_confusion through the
    scoring join (broadcast grid, map-side-combined sums); the rank
    window partitions by doc_id (parallel); the reliability table is
    10 rows."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True)
    grid = train_weight_grid(
        spark, d.filter(hash_bucket(F.col("doc_id")) < 80)
    )
    scored = (
        _tokenize_buckets(d.filter(hash_bucket(F.col("doc_id")) >= 80))
        .join(F.broadcast(grid), "b")
        .groupBy("doc_id", "lang", "cls")
        .agg(F.sum("w").alias("s"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), "cls")
    ranked = scored.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= 2
    )
    tops = ranked.groupBy("doc_id", "lang").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cls"))).alias("pred"),
        F.max(F.when(F.col("rn") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("rn") == 2, F.col("s"))).alias("s2"),
    )
    binned = tops.select(
        F.least(
            F.expr("(s1 - coalesce(s2, cast(0 as bigint))) div 20000000"),
            F.lit(9),
        )
        .cast("bigint")
        .alias("margin_bin"),
        F.when(F.col("pred") == F.col("lang"), 1).otherwise(0).alias("c"),
    )
    return binned.groupBy("margin_bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("n_correct"),
        (F.sum("c").cast("double") / F.count("*")).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Exact tie-aware AUC — the ranking-quality member of the model-eval
# family (confusion / reliability / DCG / AUC)
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
sc AS (SELECT vi, event_type, CAST(COUNT(*) AS BIGINT) AS c
       FROM e GROUP BY 1, 2),
tot AS (SELECT vi, CAST(SUM(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
types AS (SELECT DISTINCT event_type FROM e),
grid AS (
  SELECT t.event_type, v.vi,
    COALESCE(s.c, 0) AS pos_v,
    v.ct - COALESCE(s.c, 0) AS neg_v
  FROM types t
  CROSS JOIN tot v
  LEFT JOIN sc s ON s.event_type = t.event_type AND s.vi = v.vi
),
w AS (
  SELECT event_type, pos_v, neg_v,
    COALESCE(SUM(neg_v) OVER (PARTITION BY event_type ORDER BY vi
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
  FROM grid
),
agg AS (
  SELECT event_type,
    CAST(SUM(pos_v) AS BIGINT) AS n_pos,
    CAST(SUM(neg_v) AS BIGINT) AS n_neg,
    CAST(SUM(pos_v * (2 * cnb + neg_v)) AS BIGINT) AS u2
  FROM w GROUP BY event_type
)
SELECT event_type, n_pos, n_neg, u2,
  CAST(u2 AS DOUBLE) / NULLIF(2.0 * n_pos * n_neg, 0.0) AS auc,
  CAST(u2 AS DOUBLE) / NULLIF(1.0 * n_pos * n_neg, 0.0) - 1.0 AS gini
FROM agg
"""


@query("event_type_auc_ovr", oracle=_AUC_ORACLE)
def q_event_type_auc_ovr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT tie-aware AUC, one-vs-rest per event type — the
    ranking-quality member of the model-eval family (beside the
    confusion matrix, margin reliability, and retrieval DCG): treating
    the event VALUE as a score for "this event is type t", AUC is the
    Mann-Whitney U statistic with ties credited 1/2, computed EXACTLY
    from the per-score census: 2U = Σ_v pos_v·(2·neg_below(v) + neg_v)
    — all integer counts, so u2 is an exact int on both engines and
    the AUC/Gini doubles come from one closed-form division each
    (NULLIF-guarded for typeless slices).  No sampling, no sort of raw
    rows, no trapezoid approximation.

    Scale shape: one (score, type) census (map-side combined, state ∝
    distinct scores × types), a type-partitioned running sum over the
    score axis, and a per-type fold — the standard exact-AUC recipe at
    warehouse scale; a billion rows with a bounded score domain cost
    one shuffle of the census, never a global rank of events."""
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
    sc = e.groupBy("vi", "event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return _auc_from_census(sc)


def _auc_from_census(sc: DataFrame) -> DataFrame:
    """Exact tie-aware one-vs-rest AUC from a (vi, event_type, c)
    score census — shared by the batch query and its streaming twin
    (census partials are additive integers; the AUC fold runs once on
    the merged state)."""
    from pyspark.sql.window import Window

    tot = sc.groupBy("vi").agg(F.sum("c").cast("bigint").alias("ct"))
    types = sc.select("event_type").distinct()
    grid = (
        types.crossJoin(tot)
        .join(sc, ["event_type", "vi"], "left")
        .select(
            "event_type",
            "vi",
            F.coalesce(F.col("c"), F.lit(0)).alias("pos_v"),
            (F.col("ct") - F.coalesce(F.col("c"), F.lit(0))).alias(
                "neg_v"
            ),
        )
    )
    w_cnb = (
        Window.partitionBy("event_type")
        .orderBy("vi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = grid.select(
        "event_type",
        "pos_v",
        "neg_v",
        F.coalesce(F.sum("neg_v").over(w_cnb), F.lit(0)).alias("cnb"),
    )
    agg = w.groupBy("event_type").agg(
        F.sum("pos_v").cast("bigint").alias("n_pos"),
        F.sum("neg_v").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos_v") * (2 * F.col("cnb") + F.col("neg_v"))
        )
        .cast("bigint")
        .alias("u2"),
    )
    den2 = F.nullif(
        2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"),
        F.lit(0.0),
    )
    den1 = F.nullif(
        1.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"),
        F.lit(0.0),
    )
    return agg.select(
        "event_type",
        "n_pos",
        "n_neg",
        "u2",
        (F.col("u2").cast("double") / den2).alias("auc"),
        (F.col("u2").cast("double") / den1 - F.lit(1.0)).alias("gini"),
    )


@query("stream_auc_ovr", oracle=_AUC_ORACLE)
def q_stream_auc_ovr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of event_type_auc_ovr — the live model-quality
    monitor: scored events arrive as micro-batches and fold into
    per-(score, type) integer COUNT-CENSUS partials, written bid-keyed
    and replay-safe (streaming/pipeline.py::run_stream_auc_census);
    the exact Mann-Whitney fold runs at drain on the MERGED census
    (`_auc_from_census`, the exact code path the batch query runs).
    Census counts are additive integers, so the streamed AUC is
    batch-identical under any batching, ordering, or at-least-once
    replay — the BATCH oracle is the ground truth (the
    stream_conformal_coverage discipline, completing the streaming
    eval-twin family: confusion, drift, conformal, now AUC).

    Scale shape: per trigger one map-side-combined (vi, type) count
    bounded by the batch's distinct scores × types; drain-side state
    is the score-cardinality census — the AUC fold never touches the
    event stream again."""
    from ..streaming.pipeline import run_stream_auc_census

    sc = run_stream_auc_census(spark, sf_dir).localCheckpoint(eager=True)
    return _auc_from_census(sc)


# ---------------------------------------------------------------------------
# k-fold cross-validation — the model-selection lifecycle row (fold
# hygiene + pooled and macro accuracy from one tokenized pass)
# ---------------------------------------------------------------------------

_CV_K = 5  # folds: md5 bucket % 5 (same leak-proof hash discipline)


def _cv_oracle() -> str:
    fold_sql = _bucket_sql(x="CAST(doc_id AS VARCHAR)") + f" % {_CV_K}"
    parts = []
    for f in range(_CV_K):
        parts.append(f""",
ct_{f} AS MATERIALIZED (
  SELECT b, lang AS cls, COUNT(*) AS ct
  FROM tok WHERE fold != {f} GROUP BY 1, 2
),
nc_{f} AS (SELECT cls, SUM(ct) AS n_c FROM ct_{f} GROUP BY cls),
grid_{f} AS MATERIALIZED (
  SELECT r.b, nc.cls,
    {_SCORE_SQL.format(ct='COALESCE(ct.ct, 0)', nc='nc.n_c')} AS w
  FROM (SELECT range AS b FROM range({_V})) r
  CROSS JOIN nc_{f} nc
  LEFT JOIN ct_{f} ct ON ct.b = r.b AND ct.cls = nc.cls
),
pred_{f} AS MATERIALIZED (
  SELECT doc_id, lang, cls AS pred_lang FROM (
    SELECT t.doc_id, t.lang, g.cls,
      ROW_NUMBER() OVER (PARTITION BY t.doc_id
                         ORDER BY SUM(g.w) DESC, g.cls) AS rn
    FROM tok t JOIN grid_{f} g ON t.b = g.b
    WHERE t.fold = {f}
    GROUP BY t.doc_id, t.lang, g.cls
  ) WHERE rn = 1
),
fold_{f} AS (
  SELECT CAST({f} AS BIGINT) AS fold,
    CAST(COUNT(*) AS BIGINT) AS n_test,
    CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
      AS n_correct
  FROM pred_{f}
)""")
    folds_union = " UNION ALL ".join(
        f"SELECT * FROM fold_{f}" for f in range(_CV_K)
    )
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang,
    {fold_sql} AS fold,
    {_SHINGLE_INT_SQL.format(x='t.tok')} % {_V} AS b
  FROM (SELECT doc_id, lang,
          unnest(str_split_regex({_ASCII_FOLD_SQL.format(x='trim(text)')},
                                 '\\s+')) AS tok
        FROM documents) t
){''.join(parts)},
folds AS MATERIALIZED ({folds_union}),
tot AS (
  SELECT CAST(SUM(n_test) AS BIGINT) AS n_all,
    CAST(SUM(n_correct) AS BIGINT) AS c_all,
    CAST(SUM(CAST(FLOOR(1000000000.0 * CAST(n_correct AS DOUBLE)
      / NULLIF(CAST(n_test AS DOUBLE), 0.0)) AS BIGINT)) AS BIGINT)
      AS macro_num
  FROM folds
)
SELECT f.fold, f.n_test, f.n_correct,
  CAST(f.n_correct AS DOUBLE) / NULLIF(CAST(f.n_test AS DOUBLE), 0.0)
    AS fold_accuracy,
  t.n_all, t.c_all,
  CAST(t.c_all AS DOUBLE) / NULLIF(CAST(t.n_all AS DOUBLE), 0.0)
    AS micro_accuracy,
  CAST(t.macro_num AS DOUBLE) / ({_CV_K} * 1000000000.0)
    AS macro_accuracy
FROM folds f CROSS JOIN tot t
"""


@query("lang_classifier_cv_folds", oracle=_cv_oracle())
def q_lang_classifier_cv_folds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-FOLD CROSS-VALIDATION of the language classifier — the
    model-selection lifecycle row the eval family was missing (the
    confusion/reliability/AUC rows evaluate ONE split; CV evaluates
    the TRAINING PROCEDURE): 5 leak-proof md5 folds, each fold scored
    by a grid trained on the other four, per-fold accuracy plus the
    pooled (micro) and per-fold-averaged (macro) accuracies.

    Fold hygiene is the point: the fold id derives from the same md5
    bucket discipline as every split in the engine, so no document's
    tokens ever reach the grid that scores it.  Float discipline:
    fold/micro accuracies are single divisions of exact integer
    censuses; the macro mean quantizes each fold's (bit-identical)
    accuracy to FLOOR(1e9·acc) and averages exact integers — the
    order-dependent 5-term double sum never happens.

    Scale shape: ONE tokenized pass feeds all five folds (the fold id
    is a column, not a scan); each fold's grid is the broadcast
    V×classes table and its scoring pass a broadcast join + map-side
    combined sum — at 100 TB k-fold CV costs k broadcast-join sweeps
    over the same cached tokens, never k corpus re-reads."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    tok = _tokenize_buckets(d).withColumn(
        "fold", hash_bucket(F.col("doc_id")) % _CV_K
    )
    tok = tok.localCheckpoint(eager=True)

    def _fold_leg(f: int) -> DataFrame:
        tr = tok.filter(F.col("fold") != f)
        ct = (
            tr.groupBy("b", F.col("lang").alias("cls"))
            .agg(F.count("*").alias("ct"))
            .localCheckpoint(eager=True)
        )
        nc = ct.groupBy("cls").agg(F.sum("ct").alias("n_c"))
        buckets = d.sparkSession.range(_V).select(
            F.col("id").cast("bigint").alias("b")
        )
        w = F.floor(
            (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
            * F.lit(1000000000.0)
            / (F.col("n_c") + _V).cast("double")
        ).cast("bigint")
        grid = (
            buckets.crossJoin(F.broadcast(nc))
            .join(F.broadcast(ct), ["b", "cls"], "left")
            .select("b", "cls", w.alias("w"))
            .localCheckpoint(eager=True)
        )
        scored = (
            tok.filter(F.col("fold") == f)
            .join(F.broadcast(grid), "b")
            .groupBy("doc_id", "lang", "cls")
            .agg(F.sum("w").alias("s"))
        )
        pred = (
            scored.groupBy("doc_id", "lang")
            .agg(
                F.min(
                    F.struct((-F.col("s")).alias("ns"), F.col("cls"))
                ).alias("best")
            )
            .select("doc_id", "lang", F.col("best.cls").alias("pred_lang"))
        )
        return pred.agg(
            F.lit(f).cast("bigint").alias("fold"),
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("lang") == F.col("pred_lang"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )

    # The five folds are independent train+score chains off the one
    # checkpointed token pass (each pins its own grid checkpoints):
    # build them from a driver thread pool (guide §2.6) so their
    # barrier jobs back-fill each other's stragglers; the union is
    # assembled in fold order, identical to the sequential plan.
    frames = run_legs(
        spark, *(functools.partial(_fold_leg, f) for f in range(_CV_K))
    )
    rows = frames[0]
    for fr in frames[1:]:
        rows = rows.unionByName(fr)
    folds = rows.localCheckpoint(eager=True)
    facc = F.col("n_correct").cast("double") / F.nullif(
        F.col("n_test").cast("double"), F.lit(0.0)
    )
    tot = folds.agg(
        F.sum("n_test").cast("bigint").alias("n_all"),
        F.sum("n_correct").cast("bigint").alias("c_all"),
        F.sum(F.floor(F.lit(1e9) * facc).cast("bigint"))
        .cast("bigint")
        .alias("macro_num"),
    )
    return folds.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_test",
        "n_correct",
        facc.alias("fold_accuracy"),
        "n_all",
        "c_all",
        (
            F.col("c_all").cast("double")
            / F.nullif(F.col("n_all").cast("double"), F.lit(0.0))
        ).alias("micro_accuracy"),
        (
            F.col("macro_num").cast("double")
            / F.lit(_CV_K * 1000000000.0)
        ).alias("macro_accuracy"),
    )
