"""Graph analytics on DataFrames — PageRank as the second iterative
operator (dedup.connected_components is the first).

The graph is derived from the data: an edge supplier-nation → customer-
nation exists when any lineitem ships between them (the distinct pair
set of operators.relational_ext.q_nation_trade_flows).  PageRank then
ranks nations by trade in-flow centrality.

Determinism contract for an ITERATIVE float algorithm: ranks live as
integer mantissas (scale 1e7); each round's update is

    ri' = round(0.15 * 1e7) + (85 * Σ_in (ri div out_deg)) div 100

— integer division for the per-neighbor contribution split and for the
damping multiply, exact integer sums in between, so every round's vector
is bit-identical in Spark and DuckDB (the oracle unrolls the same three
rounds as CTEs).  Dangling-node mass is deliberately dropped (the
simple-PageRank variant) — documented, identical both sides.

Scale shape: ranks and degrees are (node, int) pairs — at web scale this
iterates a join of edges (shuffled by src) against the rank table,
re-using the same partitioning every round; per-round results
localCheckpoint to truncate lineage exactly like connected_components.
The fixture graph is small, but the loop body is the 100 TB plan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .dedup import _SHINGLE_INT_SQL as _SHINGLE_INT_SQL_REF
from .dedup import _shingle_int
from .registry import query

_N_ITER = 3
_EDGES_SQL = """
  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
"""

_ITER_SQL = """
r{next} AS (
  SELECT n.id,
    CAST(1500000 + (85 * COALESCE(SUM(r.ri // d.d), 0)) // 100 AS BIGINT) AS ri
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN r{cur} r ON r.id = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.id
)"""

_PAGERANK_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (
  SELECT id,
    CAST(ROUND(10000000.0 / (SELECT COUNT(*) FROM nodes)) AS BIGINT) AS ri
  FROM nodes
),{",".join(_ITER_SQL.format(next=i + 1, cur=i) for i in range(_N_ITER))}
SELECT id AS nation_id,
  CAST(ri AS DOUBLE) / 10000000.0 AS pagerank
FROM r{_N_ITER}
"""


def pagerank(
    edges: DataFrame, n_iter: int = _N_ITER, nodes: DataFrame | None = None
) -> DataFrame:
    """Fixed-iteration simple PageRank over `edges` (src, dst).  Returns
    (id, ri) with ri the integer-mantissa rank after `n_iter` rounds.
    `nodes` defaults to every endpoint of `edges`."""
    # materialize the edge set ONCE — nodes, degrees, and every round's
    # join all reuse the checkpointed leaf instead of re-running the
    # (possibly expensive) edge-derivation plan
    edges = edges.localCheckpoint(eager=True)
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    nodes = nodes.localCheckpoint(eager=True)
    n_nodes = nodes.count()  # scalar bound for the init constant only
    if n_nodes == 0:
        return nodes.select("id", F.lit(0).cast("bigint").alias("ri"))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # half-away-from-zero to match DuckDB ROUND (Python round() is
    # banker's: 1e7/256 = 39062.5 would seed 39062 vs the oracle's 39063)
    ranks = nodes.select(
        "id", F.lit(int(1e7 / n_nodes + 0.5)).cast("bigint").alias("ri")
    )
    for it in range(n_iter):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .join(deg, "src")
            .select("dst", F.expr("ri div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = nodes.join(contrib, nodes["id"] == contrib["dst"], "left").select(
            "id",
            (
                F.lit(1500000).cast("bigint")
                + F.expr("85 * coalesce(csum, 0) div 100")
            ).alias("ri"),
        )
        # truncate lineage every OTHER round (same amortization as
        # connected_components): plan depth stays bounded while half the
        # materialization jobs disappear
        if it % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src, dst) nation trade edges for one quarter — the
    shipdate predicate reaches the parquet scan (PushedFilters) and
    bounds the edge-derivation join; dims broadcast."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between("1995-01-01", "1995-03-31")
        )
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )


@query("pagerank_nations", oracle=_PAGERANK_ORACLE)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph, 3 exact-integer rounds (see
    module docstring for the determinism contract and the 100 TB loop
    shape)."""
    ranks = pagerank(_trade_edges(spark, sf_dir))
    return ranks.select(
        F.col("id").alias("nation_id"),
        (F.col("ri").cast("double") / F.lit(1e7)).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficients
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
uedges AS (  -- canonical undirected edge set, self-loops dropped
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
tri AS (  -- oriented wedge close: each triangle counted once as x<y<z
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM uedges e1
  JOIN uedges e2 ON e1.b = e2.a
  JOIN uedges e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
  SELECT v, COUNT(*) AS t FROM (
    SELECT x AS v FROM tri UNION ALL
    SELECT y FROM tri UNION ALL
    SELECT z FROM tri
  ) GROUP BY v
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM uedges UNION ALL SELECT b FROM uedges
  ) GROUP BY v
)
SELECT deg.v AS nation_id, COALESCE(pernode.t, 0) AS n_triangles, deg.d AS degree,
  CASE WHEN deg.d >= 2
       THEN CAST(2 * COALESCE(pernode.t, 0) AS DOUBLE) / (deg.d * (deg.d - 1))
       ELSE CAST(0.0 AS DOUBLE) END AS clustering
FROM deg LEFT JOIN pernode ON deg.v = pernode.v
"""


@query("trade_triangle_counts", oracle=_TRIANGLE_ORACLE)
def q_trade_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + local clustering coefficient per nation over the
    undirected trade graph — the third graph operator (after components
    and PageRank), and a different JOIN shape: not iterative, but a
    double self-join whose cost is the wedge count.

    Scale shape: edges are canonicalized a<b, so the wedge join
    e1.b = e2.a enumerates each candidate ordered wedge once and the
    closing equi-join on (x, z) confirms triangles — every triangle
    counted exactly once as x<y<z, no post-dedup.  At web scale the
    orientation key switches from id to (degree, id) — pointing edges at
    the higher-degree endpoint bounds per-node wedge fan-out to
    O(sqrt(m)) (the standard skew lever) with the identical plan; the
    id-orientation here keeps the oracle simple on the 25-node fixture.
    Clustering = 2t / d(d-1) is one exact-int division — bit-identical
    both engines; COUNT/COALESCE algebra handles triangle-free nodes."""
    e = _trade_edges(spark, sf_dir)
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused by e1/e2/e3 and deg
    )
    e1, e2, e3 = u.alias("e1"), u.alias("e2"), u.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    pernode = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    deg = (
        u.select(F.col("a").alias("v"))
        .unionAll(u.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    t = F.coalesce(F.col("t"), F.lit(0).cast("long"))
    clustering = F.when(
        F.col("d") >= 2,
        (F.lit(2) * t).cast("double") / (F.col("d") * (F.col("d") - 1)),
    ).otherwise(F.lit(0.0))
    return deg.join(pernode, "v", "left").select(
        F.col("v").cast("bigint").alias("nation_id"),
        t.alias("n_triangles"),
        F.col("d").alias("degree"),
        clustering.alias("clustering"),
    )


# ---------------------------------------------------------------------------
# BFS shortest-path distances
# ---------------------------------------------------------------------------

_BFS_SOURCE = 0
_BFS_ROUNDS = 3

_BFS_ITER_SQL = """
d{next} AS (
  SELECT id, MIN(d) AS d FROM (
    SELECT id, d FROM d{cur}
    UNION ALL
    SELECT e.dst AS id, r.d + 1 AS d
    FROM bi e JOIN d{cur} r ON e.src = r.id
  ) GROUP BY id
)"""

_BFS_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
uedges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
bi AS (
  SELECT a AS src, b AS dst FROM uedges
  UNION ALL
  SELECT b, a FROM uedges
),
d0 AS (SELECT {_BFS_SOURCE} AS id, 0 AS d),{
    ",".join(_BFS_ITER_SQL.format(next=i + 1, cur=i) for i in range(_BFS_ROUNDS))}
SELECT CAST(id AS BIGINT) AS nation_id, CAST(d AS BIGINT) AS distance
FROM d{_BFS_ROUNDS}
"""


@query("trade_bfs_distances", oracle=_BFS_ORACLE)
def q_trade_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path distances from nation 0 over the undirected
    trade graph, {n} rounds — the fourth graph operator, and the
    frontier-expansion iteration pattern (label propagation's min-relax
    with d+1 instead of min-label).

    Loop discipline is pagerank's: the edge set materializes once
    (localCheckpoint) and each round is edges ⋈ current-distances →
    min-combine, with a checkpoint every 2nd round bounding plan depth.
    Distances are small exact integers — no float contract needed; the
    oracle unrolls the same rounds as CTEs.  Nodes not reached within
    the round budget carry no row (exactly the frontier semantics a
    bounded BFS has at web scale, where round count ~ graph diameter)."""
    e = _trade_edges(spark, sf_dir)
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    bi = (
        u.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(u.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    dist = (
        bi.sparkSession.range(1)
        .select(
            F.lit(_BFS_SOURCE).cast("long").alias("id"),
            F.lit(0).cast("long").alias("d"),
        )
    )
    for it in range(_BFS_ROUNDS):
        relaxed = bi.join(dist, bi["src"] == dist["id"]).select(
            F.col("dst").alias("id"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(relaxed).groupBy("id").agg(F.min("d").alias("d"))
        )
        if it % 2 == 1:
            dist = dist.localCheckpoint(eager=True)
    return dist.select(
        F.col("id").cast("bigint").alias("nation_id"),
        F.col("d").cast("bigint").alias("distance"),
    )


q_trade_bfs_distances.__doc__ = q_trade_bfs_distances.__doc__.replace(
    "{n}", str(_BFS_ROUNDS)
)


# ---------------------------------------------------------------------------
# k-core decomposition — 3 unrolled peeling rounds over the trade graph
# ---------------------------------------------------------------------------

_KCORE_K = 3

_KCORE_ROUND_SQL = """
d{r} AS MATERIALIZED (
  SELECT e.src AS id, COUNT(*) AS d
  FROM bi e JOIN a{p} x ON e.src = x.id JOIN a{p} y ON e.dst = y.id
  GROUP BY 1
),
a{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE d >= %d)""" % _KCORE_K

_KCORE_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
uedges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
bi AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM uedges
  UNION ALL
  SELECT b, a FROM uedges
),
a0 AS MATERIALIZED (
  SELECT DISTINCT a AS id FROM uedges UNION SELECT DISTINCT b FROM uedges
),{_KCORE_ROUND_SQL.format(r=1, p=0)},{_KCORE_ROUND_SQL.format(r=2, p=1)},{_KCORE_ROUND_SQL.format(r=3, p=2)},
degf AS (
  SELECT e.src AS id, COUNT(*) AS d
  FROM bi e JOIN a3 x ON e.src = x.id JOIN a3 y ON e.dst = y.id
  GROUP BY 1
)
SELECT n.id AS nation, a3.id IS NOT NULL AS in_core,
  CAST(degf.d AS BIGINT) AS core_degree
FROM a0 n
LEFT JOIN a3 ON n.id = a3.id
LEFT JOIN degf ON n.id = degf.id
"""


@query("trade_kcore_membership", oracle=_KCORE_ORACLE)
def q_trade_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the undirected nation trade graph,
    three unrolled peeling rounds — the graph-density member of the
    iterative family (components, PageRank, BFS, Lloyd): each round
    recomputes degrees WITHIN the surviving set and drops nodes below
    k, converging to the maximal subgraph where everyone keeps ≥ k
    alive neighbors (the community-core / spam-farm detector, and the
    preprocessing cut that shrinks expensive graph algorithms).  All
    counts are exact integers; the oracle's rounds are MATERIALIZED
    CTEs (the inlining blow-up gotcha).

    Scale shape: per round one edge-alive semi-join pair + a degree
    census; the alive set only shrinks, so round cost is monotone
    non-increasing, and the edge frame is checkpointed once.  Peeling
    to convergence at 100 TB runs the same round under a driver loop
    with the components-style checkpoint cadence."""
    ue = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    bi = ue.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        ue.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = (
        ue.select(F.col("a").alias("id"))
        .unionByName(ue.select(F.col("b").alias("id")))
        .distinct()
    )
    alive = nodes
    for _ in range(3):
        deg = (
            bi.join(
                F.broadcast(alive.select(F.col("id").alias("src"))), "src"
            )
            .join(
                F.broadcast(alive.select(F.col("id").alias("dst"))), "dst"
            )
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        alive = deg.filter(F.col("d") >= _KCORE_K).select(
            F.col("src").alias("id")
        )
    degf = (
        bi.join(F.broadcast(alive.select(F.col("id").alias("src"))), "src")
        .join(F.broadcast(alive.select(F.col("id").alias("dst"))), "dst")
        .groupBy("src")
        .agg(F.count("*").alias("d"))
        .select(F.col("src").alias("id"), "d")
    )
    a3 = alive.withColumn("flag", F.lit(1))
    n, a, g = nodes.alias("n"), a3.alias("a"), degf.alias("g")
    return (
        n.join(F.broadcast(a), F.col("n.id") == F.col("a.id"), "left")
        .join(F.broadcast(g), F.col("n.id") == F.col("g.id"), "left")
        .select(
            F.col("n.id").cast("bigint").alias("nation"),
            F.col("a.flag").isNotNull().alias("in_core"),
            F.col("g.d").cast("bigint").alias("core_degree"),
        )
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities — 2 unrolled L1-normalized rounds
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 2
_HITS_SCALE = 1_000_000

_HITS_ROUND_SQL = """
araw{r} AS MATERIALIZED (
  SELECT n.id, COALESCE(SUM(h.hi), 0) AS raw
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN h{p} h ON h.id = e.src
  GROUP BY 1
),
a{r} AS MATERIALIZED (
  SELECT id,
    CAST((raw * %(s)d) // (SELECT SUM(raw) FROM araw{r}) AS BIGINT) AS ai
  FROM araw{r}
),
hraw{r} AS MATERIALIZED (
  SELECT n.id, COALESCE(SUM(a.ai), 0) AS raw
  FROM nodes n
  LEFT JOIN edges e ON e.src = n.id
  LEFT JOIN a{r} a ON a.id = e.dst
  GROUP BY 1
),
h{r} AS MATERIALIZED (
  SELECT id,
    CAST((raw * %(s)d) // (SELECT SUM(raw) FROM hraw{r}) AS BIGINT) AS hi
  FROM hraw{r}
)""" % {"s": _HITS_SCALE}

_HITS_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS id FROM edges UNION SELECT DISTINCT dst FROM edges
),
h0 AS MATERIALIZED (SELECT id, {_HITS_SCALE} AS hi FROM nodes),{",".join(
    _HITS_ROUND_SQL.format(r=i + 1, p=i) for i in range(_HITS_ROUNDS))}
SELECT CAST(h.id AS BIGINT) AS nation_id,
  CAST(h.hi AS DOUBLE) / {_HITS_SCALE}.0 AS hub,
  CAST(a.ai AS DOUBLE) / {_HITS_SCALE}.0 AS authority
FROM h{_HITS_ROUNDS} h JOIN a{_HITS_ROUNDS} a ON h.id = a.id
"""


def _l1_normalize(raw: DataFrame, col: str, out: str) -> DataFrame:
    """(id, raw) -> (id, out) with out = (raw * SCALE) // sum(raw) — the
    exact-integer L1 normalization both engines floor identically.  The
    1-row total broadcasts (the argmax idiom)."""
    total = raw.agg(F.sum(col).alias("_tot"))
    return raw.crossJoin(F.broadcast(total)).select(
        "id", F.expr(f"({col} * {_HITS_SCALE}) div _tot").alias(out)
    )


@query("hits_hubs_authorities", oracle=_HITS_ORACLE)
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the directed nation trade graph, 2 unrolled rounds — the
    bipartite-centrality member of the iterative family: authority(v) =
    Σ hub(u) over in-edges, hub(u) = Σ authority(v) over out-edges,
    L1-normalized each half-step.  Exporter nations score as hubs,
    importer nations as authorities — the asymmetry PageRank's single
    score collapses.  Determinism contract: scores are integer mantissas
    (scale 1e6); each half-step is exact-integer sums followed by one
    integer floor-division by the L1 total (a broadcast 1-row scalar),
    so every round's vector is bit-identical in Spark and DuckDB; the
    oracle unrolls the same rounds as MATERIALIZED CTEs (the CTE
    inlining blow-up gotcha).

    Scale shape: per half-step one edges ⋈ scores shuffle on the edge
    key plus a map-side-combined sum — identical to the PageRank loop,
    reusing the checkpointed edge leaf; the normalization total is a
    1-row aggregate, never a sort."""
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("id", F.lit(_HITS_SCALE).cast("bigint").alias("hi"))
    auth = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            nodes.alias("n")
            .join(edges.alias("e"), F.col("e.dst") == F.col("n.id"), "left")
            .join(hub.alias("h"), F.col("h.id") == F.col("e.src"), "left")
            .groupBy(F.col("n.id").alias("id"))
            .agg(F.coalesce(F.sum("h.hi"), F.lit(0)).alias("raw"))
        )
        auth = _l1_normalize(araw, "raw", "ai").localCheckpoint(eager=True)
        hraw = (
            nodes.alias("n")
            .join(edges.alias("e"), F.col("e.src") == F.col("n.id"), "left")
            .join(auth.alias("a"), F.col("a.id") == F.col("e.dst"), "left")
            .groupBy(F.col("n.id").alias("id"))
            .agg(F.coalesce(F.sum("a.ai"), F.lit(0)).alias("raw"))
        )
        hub = _l1_normalize(hraw, "raw", "hi").localCheckpoint(eager=True)
    # both sides are checkpointed node-cardinality leaves with no stats —
    # hint the broadcast so the final stitch never plans a sort-merge
    return (
        hub.alias("h")
        .join(F.broadcast(auth.alias("a")), "id")
        .select(
            F.col("id").cast("bigint").alias("nation_id"),
            (F.col("hi").cast("double") / F.lit(float(_HITS_SCALE))).alias("hub"),
            (F.col("ai").cast("double") / F.lit(float(_HITS_SCALE))).alias(
                "authority"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity — one-pass moment sums over the edge list
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
odeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
ideg AS (SELECT dst, COUNT(*) AS idg FROM edges GROUP BY 1),
xy AS (
  SELECT o.od AS x, i.idg AS y
  FROM edges e JOIN odeg o ON e.src = o.src JOIN ideg i ON e.dst = i.dst
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
)
SELECT n, sx, sy, sxy, sxx, syy,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0) AS assortativity
FROM m
"""


@query("trade_degree_assortativity", oracle=_ASSORT_ORACLE)
def q_trade_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the directed trade graph: the Pearson
    correlation, across edges, between the source's out-degree and the
    destination's in-degree — positive means high-volume exporters ship
    to high-volume importers (a hub-to-hub core), negative a
    hub-and-spoke topology.  The moment sums (n, Σx, Σy, Σxy, Σx²,
    Σy²) are exact integers emitted alongside the coefficient; the
    final r is one identical closed-form double expression both sides
    (exact-int casts + correctly-rounded IEEE divide/sqrt — the
    moment-sum stddev/corr discipline).

    Scale shape: two degree censuses (map-side combined) joined back to
    the edge list — degree tables are node-cardinality, broadcastable;
    the moment reduction is a single 1-row aggregate.  No sort, no
    all-pairs."""
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    odeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    ideg = edges.groupBy("dst").agg(F.count("*").alias("idg"))
    xy = (
        edges.join(F.broadcast(odeg), "src")
        .join(F.broadcast(ideg), "dst")
        .select(F.col("od").alias("x"), F.col("idg").alias("y"))
    )
    m = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            # NULLIF the denominator: a regular graph (all degrees equal —
            # the sf0.1 quarter graph is complete) has zero degree variance
            # and the correlation is undefined; both engines emit NULL
            # (the OLS dd/ed lesson)
            / F.nullif(
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
                F.lit(0.0),
            )
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Edge churn — trade-graph evolution between adjacent quarters
# ---------------------------------------------------------------------------

_EDGES_Q2_SQL = _EDGES_SQL.replace("1995-01-01", "1995-04-01").replace(
    "1995-03-31", "1995-06-30"
)

_CHURN_ORACLE = f"""
WITH e1 AS ({_EDGES_SQL}),
e2 AS ({_EDGES_Q2_SQL}),
u AS (
  SELECT COALESCE(a.src, b.src) AS src, COALESCE(a.dst, b.dst) AS dst,
    a.src IS NOT NULL AS in_q1, b.src IS NOT NULL AS in_q2
  FROM e1 a FULL OUTER JOIN e2 b ON a.src = b.src AND a.dst = b.dst
)
SELECT
  CAST(SUM(CASE WHEN in_q1 AND in_q2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_persisted,
  CAST(SUM(CASE WHEN in_q1 AND NOT in_q2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(SUM(CASE WHEN in_q2 AND NOT in_q1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_added,
  CAST(SUM(CASE WHEN in_q1 AND in_q2 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(NULLIF(COUNT(*), 0) AS DOUBLE) AS jaccard_stability
FROM u
"""


@query("trade_edge_churn", oracle=_CHURN_ORACLE)
def q_trade_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph evolution between adjacent quarters: the trade edge sets
    of 1995-Q1 and 1995-Q2 full-outer-joined on the (src, dst) key,
    classified persisted/removed/added, plus Jaccard stability
    |E1∩E2|/|E1∪E2| — the drift monitor for any periodically-rebuilt
    graph (a stability crash means the downstream PageRank/k-core
    features changed regime).  Counts are exact integers; the ratio is
    one NULLIF-guarded division (degenerate-input lesson).

    Scale shape: two partition-pruned edge derivations (the date
    predicates reach the scans) and one key-keyed full outer join at
    edge cardinality; the classification is a 1-row reduction."""
    e1 = _trade_edges(spark, sf_dir)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-04-01", "1995-06-30"))
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    e2 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    a = e1.withColumn("in_q1", F.lit(True)).alias("a")
    b = e2.withColumn("in_q2", F.lit(True)).alias("b")
    u = a.join(
        b,
        (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") == F.col("b.dst")),
        "full_outer",
    ).select(
        F.coalesce(F.col("a.in_q1"), F.lit(False)).alias("in_q1"),
        F.coalesce(F.col("b.in_q2"), F.lit(False)).alias("in_q2"),
    )
    both = F.sum(F.when(F.col("in_q1") & F.col("in_q2"), 1).otherwise(0))
    return u.agg(
        both.cast("bigint").alias("n_persisted"),
        F.sum(F.when(F.col("in_q1") & ~F.col("in_q2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(F.col("in_q2") & ~F.col("in_q1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        (
            both.cast("double")
            / F.nullif(F.count("*"), F.lit(0)).cast("double")
        ).alias("jaccard_stability"),
    )


# ---------------------------------------------------------------------------
# Link prediction — Adamic-Adar over the trade graph
# ---------------------------------------------------------------------------

_ADAMIC_ADAR_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
uedges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
adj AS (
  SELECT a AS v, b AS w FROM uedges UNION ALL SELECT b, a FROM uedges
),
deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY v),
term AS (  -- quantized 1/ln(deg) per potential common neighbor
  SELECT v, CAST(FLOOR(1000000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS ti
  FROM deg WHERE d >= 2
),
wedge AS (  -- each unordered neighbor pair of y, once as x < z
  SELECT a1.w AS x, a2.w AS z, a1.v AS y
  FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.w < a2.w
),
cand AS (
  SELECT w.x, w.z, COUNT(*) AS n_common, SUM(t.ti) AS aa_q
  FROM wedge w JOIN term t ON w.y = t.v
  LEFT JOIN uedges e ON w.x = e.a AND w.z = e.b
  WHERE e.a IS NULL
  GROUP BY 1, 2
)
SELECT x AS node_a, z AS node_b, CAST(n_common AS BIGINT) AS n_common,
  CAST(aa_q AS DOUBLE) / 1000000000.0 AS adamic_adar
FROM cand
ORDER BY aa_q DESC, x, z
LIMIT 20
"""


@query("trade_adamic_adar_links", oracle=_ADAMIC_ADAR_ORACLE)
def q_trade_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (Adamic-Adar, the classic common-neighbor score):
    for every NON-edge pair (x, z) of the undirected quarter trade
    graph, sum 1/ln(deg(y)) over their common neighbors y — rare
    neighbors count more — and return the 20 strongest predicted links.
    A recommender primitive ("who should trade next") and a different
    composition from triangle counting: the same wedge enumeration, but
    closed against the COMPLEMENT (anti-join on the edge set) instead
    of the edge set.

    Determinism: per-node terms are FLOOR(1e9 / ln(d)) integers (the
    ioc_host_dga_scores log-quantization discipline — quantize each
    term once, sum exact ints, convert to double once at the end), so
    the order-dependent float-sum trap never arises; deg >= 2 keeps
    ln(d) > 0.

    Scale shape: wedge fan-out is sum_y deg(y)^2 — the standard
    high-degree-hub cost, bounded in production by the same
    degree-orientation lever as triangle counting; the anti-join is
    edge-keyed; top-20 is TakeOrderedAndProject.  Terms join by node id
    (25 rows here — broadcast)."""
    e = _trade_edges(spark, sf_dir)
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused by adj (x2), deg, anti-join
    )
    adj = u.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        u.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    term = deg.filter(F.col("d") >= 2).select(
        "v",
        F.floor(F.lit(1000000000.0) / F.log(F.col("d").cast("double")))
        .cast("bigint")
        .alias("ti"),
    )
    a1, a2 = adj.alias("a1"), adj.alias("a2")
    wedge = a1.join(
        a2,
        (F.col("a1.v") == F.col("a2.v")) & (F.col("a1.w") < F.col("a2.w")),
    ).select(
        F.col("a1.w").alias("x"), F.col("a2.w").alias("z"),
        F.col("a1.v").alias("y"),
    )
    cand = (
        wedge.join(F.broadcast(term), F.col("y") == F.col("v"))
        .join(
            u,
            (F.col("x") == F.col("a")) & (F.col("z") == F.col("b")),
            "left_anti",
        )
        .groupBy("x", "z")
        .agg(F.count("*").alias("n_common"), F.sum("ti").alias("aa_q"))
    )
    return (
        cand.orderBy(F.col("aa_q").desc(), "x", "z")
        .limit(20)
        .select(
            F.col("x").cast("bigint").alias("node_a"),
            F.col("z").cast("bigint").alias("node_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            (F.col("aa_q").cast("double") / F.lit(1e9)).alias("adamic_adar"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal reachability — time-respecting paths across quarter snapshots
# ---------------------------------------------------------------------------

_Q2_EDGES_SQL = """
  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate BETWEEN DATE '1995-04-01' AND DATE '1995-06-30'
"""

_TEMPORAL_REACH_ORACLE = f"""
WITH e1 AS ({_EDGES_SQL}),
e2 AS ({_Q2_EDGES_SQL}),
direct AS (
  SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2
),
twohop AS (
  SELECT a.src, b.dst FROM e1 a JOIN e2 b ON a.dst = b.src
),
reach AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM direct UNION ALL SELECT src, dst FROM twohop
  ) WHERE src != dst
)
SELECT CAST(src AS BIGINT) AS nation_id,
  CAST(COUNT(*) AS BIGINT) AS n_reachable
FROM reach GROUP BY src
"""


@query("trade_temporal_reach", oracle=_TEMPORAL_REACH_ORACLE)
def q_trade_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RESPECTING reachability — paths must traverse edges in
    chronological order (a Q1 edge may feed a Q2 edge, never the
    reverse), the semantics static BFS gets wrong on evolving graphs
    (trade_bfs_distances treats the quarter snapshot as timeless;
    information/contagion flow cannot ride an edge that existed only
    BEFORE it arrived at the node).  Per nation: how many distinct
    others are reachable within the half-year via at most two
    time-ordered hops — one Q1 or Q2 edge, or a Q1 edge followed by a
    Q2 edge.

    Scale shape: the hop join is keyed on the mid node (never a
    cartesian); both edge derivations are date-pruned at the scan
    (PushedFilters); at T snapshots the pattern chains T keyed joins —
    the same unrolled-round discipline as BFS, with the snapshot
    boundary replacing the iteration counter.  Self-targets excluded
    on both sides."""
    e1 = _trade_edges(spark, sf_dir)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-04-01", "1995-06-30"))
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    e2 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    direct = e1.unionByName(e2)
    a, b = e1.alias("h1"), e2.alias("h2")
    twohop = a.join(b, F.col("h1.dst") == F.col("h2.src")).select(
        F.col("h1.src").alias("src"), F.col("h2.dst").alias("dst")
    )
    reach = (
        direct.unionByName(twohop)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return reach.groupBy("src").agg(
        F.count("*").alias("n_reachable")
    ).select(
        F.col("src").cast("bigint").alias("nation_id"),
        F.col("n_reachable").cast("bigint").alias("n_reachable"),
    )


# ---------------------------------------------------------------------------
# k-truss — edge-grain cohesion peeling (the edge analog of k-core)
# ---------------------------------------------------------------------------

_TRUSS_K = 4  # surviving edges must sit in >= k-2 = 2 triangles


def _truss_round_sql(r: int) -> str:
    return f"""sup{r} AS MATERIALIZED (
  SELECT e.a, e.b, COUNT(*) AS s
  FROM e{r} e
  JOIN ad{r} x ON x.v = e.a
  JOIN ad{r} y ON y.v = e.b AND y.w = x.w
  GROUP BY e.a, e.b
),
e{r + 1} AS MATERIALIZED (
  SELECT s.a, s.b FROM sup{r} s WHERE s.s >= {_TRUSS_K - 2}
),
ad{r + 1} AS MATERIALIZED (
  SELECT a AS v, b AS w FROM e{r + 1}
  UNION ALL SELECT b, a FROM e{r + 1}
)"""


_TRUSS_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
ad0 AS MATERIALIZED (
  SELECT a AS v, b AS w FROM e0 UNION ALL SELECT b, a FROM e0
),
{_truss_round_sql(0)},
{_truss_round_sql(1)},
fsup AS (
  SELECT e.a, e.b, COUNT(*) AS s
  FROM e2 e
  JOIN ad2 x ON x.v = e.a
  JOIN ad2 y ON y.v = e.b AND y.w = x.w
  GROUP BY e.a, e.b
)
SELECT CAST(a AS BIGINT) AS node_a, CAST(b AS BIGINT) AS node_b,
  CAST(s AS BIGINT) AS support
FROM fsup
"""


@query("trade_ktruss_edges", oracle=_TRUSS_ORACLE)
def q_trade_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-TRUSS decomposition (k=4, 2 unrolled peeling rounds) — the
    EDGE-grain cohesion mining that k-core's node-grain peeling
    misses: an edge survives only while it closes >= k-2 triangles in
    the surviving subgraph, so trusses isolate genuinely interlocked
    communities where cores merely require degree.  Per surviving
    edge: its triangle support in the final graph.

    Round body: per-edge support = the count of common neighbors of
    its endpoints — two adjacency equi-joins meeting on the third node
    (wedge cost, never all-pairs) — then a support filter and an
    adjacency rebuild; two rounds unrolled with the k-core checkpoint
    cadence (MATERIALIZED CTEs oracle-side — plain CTEs would inline
    exponentially, the viterbi lesson).

    Scale shape: each round is edge-keyed joins + one edge-grain
    count; at web scale the standard degree-orientation bound applies
    to the wedge join exactly as in trade_triangle_counts, and rounds
    run until fixpoint (fixed 2 here for the unrolled oracle)."""
    e = _trade_edges(spark, sf_dir)
    edges = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def support(ed: DataFrame) -> DataFrame:
        ad = ed.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
            ed.select(F.col("b").alias("v"), F.col("a").alias("w"))
        )
        x, y = ad.alias("x"), ad.alias("y")
        return (
            ed.alias("e")
            .join(x, F.col("x.v") == F.col("e.a"))
            .join(
                y,
                (F.col("y.v") == F.col("e.b"))
                & (F.col("y.w") == F.col("x.w")),
            )
            .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.count("*").alias("s"))
        )

    for _ in range(2):
        edges = (
            support(edges)
            .filter(F.col("s") >= _TRUSS_K - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return support(edges).select(
        F.col("a").cast("bigint").alias("node_a"),
        F.col("b").cast("bigint").alias("node_b"),
        F.col("s").cast("bigint").alias("support"),
    )


# ---------------------------------------------------------------------------
# Degree-distribution power-law fit — the graph-health gauge
# ---------------------------------------------------------------------------

_PL_DMIN = 2

_POWERLAW_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT s.s_suppkey AS src, c.c_custkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
tail AS (
  SELECT d, CAST(FLOOR(ln(CAST(d AS DOUBLE) / {_PL_DMIN}.0) * 1000000000.0)
                 AS BIGINT) AS lq
  FROM deg WHERE d >= {_PL_DMIN}
)
SELECT
  (SELECT COUNT(*) FROM deg) AS n_suppliers,
  CAST(COUNT(*) AS BIGINT) AS n_tail,
  CAST({_PL_DMIN} AS BIGINT) AS d_min,
  CAST(MAX(d) AS BIGINT) AS max_degree,
  1.0 + CAST(COUNT(*) AS DOUBLE) * 1000000000.0
      / CAST(NULLIF(SUM(lq), 0) AS DOUBLE) AS alpha_mle
FROM tail
"""


@query("supplier_degree_powerlaw", oracle=_POWERLAW_ORACLE)
def q_supplier_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the supplier out-degree distribution
    (distinct customers reached in the quarter) — the continuous MLE
    alpha = 1 + n / Σ ln(d/d_min) of Clauset-Shalizi-Newman, the
    one-number gauge of hub concentration that decides whether
    degree-orientation / hub-capping levers (trade_triangle_counts,
    part_cosupply_pairs) are even needed on a graph.  The token-Zipf
    analog (token_zipf_slope) for graph degrees.

    Determinism: each ln term quantizes to an integer
    (FLOOR(ln·1e9), the bigram_lm / DGA-score discipline), the sum is
    exact, and alpha is one closed-form division; NULLIF guards the
    all-degrees-at-d_min degenerate (the assortativity lesson — only
    visible at some SFs).

    Scale shape: the edge derivation is the pruned-quarter join with
    dims broadcast; the degree census and the moment reduction are one
    map-side-combined shuffle each; output is 1 row."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-03-31"))
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(F.col("s_suppkey").alias("src"), F.col("c_custkey").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_sup = deg.agg(F.count("*").alias("n_suppliers"))
    lq = F.floor(
        F.log(F.col("d").cast("double") / F.lit(float(_PL_DMIN)))
        * F.lit(1000000000.0)
    ).cast("bigint")
    tail = deg.filter(F.col("d") >= _PL_DMIN).select("d", lq.alias("lq"))
    agg = tail.agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.max("d").cast("bigint").alias("max_degree"),
        F.sum("lq").alias("slq"),
    )
    return agg.crossJoin(F.broadcast(n_sup)).select(
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        "n_tail",
        F.lit(_PL_DMIN).cast("bigint").alias("d_min"),
        "max_degree",
        (
            F.lit(1.0)
            + F.col("n_tail").cast("double")
            * F.lit(1000000000.0)
            / F.nullif(F.col("slq"), F.lit(0)).cast("double")
        ).alias("alpha_mle"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE on the SQL surface — WITH RECURSIVE executed by Catalyst
# ---------------------------------------------------------------------------

_REACH3_BODY = """
WITH RECURSIVE paths(src, dst, depth) AS (
  SELECT src, dst, 1 AS depth FROM {view}
  UNION ALL
  SELECT p.src, e.dst, p.depth + 1
  FROM paths p JOIN {view} e ON p.dst = e.src
  WHERE p.depth < 3
)
SELECT CAST(src AS BIGINT) AS nation_id,
  COUNT(DISTINCT dst) AS n_reach3
FROM paths GROUP BY src
"""

_REACH3_ORACLE = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
paths(src, dst, depth) AS (
  SELECT src, dst, 1 AS depth FROM edges
  UNION ALL
  SELECT p.src, e.dst, p.depth + 1
  FROM paths p JOIN edges e ON p.dst = e.src
  WHERE p.depth < 3
)
SELECT CAST(src AS BIGINT) AS nation_id,
  COUNT(DISTINCT dst) AS n_reach3
FROM paths GROUP BY src
"""


@query("sql_recursive_reach3", oracle=_REACH3_ORACLE)
def q_sql_recursive_reach3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on the SQL surface (SURVEY §7.1): 3-hop
    reachability over the quarter nation trade graph, written as ONE
    recursive CTE and executed by Catalyst's UnionLoop — the same SQL
    text (modulo the edge-table prelude) runs on both engines, the
    strongest surface-parity statement the engine can make for
    iterative queries.  Spark 4 supports UNION ALL recursion only, so
    the recursion is DEPTH-BOUNDED (p.depth < 3): on a cyclic graph an
    un-bounded UNION ALL enumerates paths forever, and even on a DAG
    it enumerates exponentially many paths — the depth guard makes the
    row bound V·d^3 and termination unconditional.  Fixpoint-style
    iteration (components, PageRank, k-core) stays on the DataFrame
    loop path (connected_components), which dedups state per round —
    this query is the SQL-surface complement, not a replacement.

    Scale shape: each unrolled level is one edges-keyed equi-join; the
    nation graph is dimension-sized so the whole loop is broadcast
    territory, and the distinct-count rollup is one small shuffle."""
    # materialize the edge derivation ONCE: the recursive plan references
    # the view at every unrolled level, and a lazy view would re-run the
    # 4-table join per level (2.74 s → 2.37 s at sf0.1; the remaining
    # cost is the UnionLoop's ~400 K level-3 path rows on the dense
    # quarter graph — the enumeration inherent to UNION ALL recursion)
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    # uuid-suffixed view: a fixed name would persist in the session
    # catalog and collide under concurrent execution (ADVICE r9); the
    # plan captures the relation at spark.sql() time, so dropping the
    # view immediately after building the DataFrame is safe.
    view = f"reach3_edges_{uuid.uuid4().hex}"
    edges.createOrReplaceTempView(view)
    try:
        return spark.sql(_REACH3_BODY.format(view=view))
    finally:
        spark.catalog.dropTempView(view)


# ---------------------------------------------------------------------------
# Personalized PageRank — teleport mass pinned to a seed set
# ---------------------------------------------------------------------------

_PPR_SEED_BOUND = 3   # seed set: nation_id < 3
_PPR_SEED_INIT = 3333333   # round(1e7 / 3), half-away like the PR init
_PPR_TELEPORT = 500000     # 0.15 * 1e7 / |seeds|


def _ppr_iter_sql(nxt: int, cur: int) -> str:
    return f"""p{nxt} AS MATERIALIZED (
  SELECT n.id,
    CAST((CASE WHEN n.id < {_PPR_SEED_BOUND} THEN {_PPR_TELEPORT} ELSE 0 END)
         + (85 * COALESCE(SUM(r.ri // d.d), 0)) // 100 AS BIGINT) AS ri
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN p{cur} r ON r.id = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.id
)"""


_PPR_ORACLE = f"""
WITH edges AS ({_EDGES_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM edges UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
p0 AS (
  SELECT id,
    CAST(CASE WHEN id < {_PPR_SEED_BOUND} THEN {_PPR_SEED_INIT} ELSE 0 END
         AS BIGINT) AS ri
  FROM nodes
),
{",".join(_ppr_iter_sql(i + 1, i) for i in range(_N_ITER))}
SELECT id AS nation_id,
  CAST(ri AS DOUBLE) / 10000000.0 AS ppr,
  id < {_PPR_SEED_BOUND} AS is_seed
FROM p{_N_ITER}
"""


@query("personalized_pagerank_nations", oracle=_PPR_ORACLE)
def q_personalized_pagerank_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSONALIZED PageRank over the nation trade graph — the
    recommendation / relevance-propagation variant where the 15%
    teleport mass returns to a SEED set (nations 0-2) instead of
    spreading uniformly, so scores measure proximity TO THE SEEDS
    through trade flows (who do the seeds' supply chains reach) rather
    than global centrality.  3 exact-integer rounds on the pagerank
    loop economics: per round one edges⋈ranks shuffle + a map-side
    combined sum; teleport and damping are integer constants
    (0.15·1e7/|S| per seed, 85·csum div 100), so every round's vector
    is bit-identical to the oracle's unrolled MATERIALIZED CTEs at any
    partitioning.  Like the uniform form, dangling/absent mass sheds
    rather than redistributes (the simplification both engines state
    identically).

    Scale shape: identical to pagerank_nations — the loop is
    edge-keyed joins with checkpoint cadence; personalization changes
    only the teleport column, which is why PPR serves per-user
    recommendations at scale by swapping the seed vector, not the
    plan."""
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    seed = F.col("id") < _PPR_SEED_BOUND
    ranks = nodes.select(
        "id",
        F.when(seed, F.lit(_PPR_SEED_INIT))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ri"),
    )
    for it in range(_N_ITER):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .join(deg, "src")
            .select("dst", F.expr("ri div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = nodes.join(
            contrib, nodes["id"] == contrib["dst"], "left"
        ).select(
            "id",
            (
                F.when(seed, F.lit(_PPR_TELEPORT)).otherwise(F.lit(0)).cast(
                    "bigint"
                )
                + F.expr("85 * coalesce(csum, 0) div 100")
            ).alias("ri"),
        )
        if it % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("id").alias("nation_id"),
        (F.col("ri").cast("double") / F.lit(1e7)).alias("ppr"),
        seed.alias("is_seed"),
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection — semi-synchronous, hashed labels,
# deterministic tie-break (the graph family's clustering operator)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3

_LPA_INIT_SQL = _SHINGLE_INT_SQL_REF.format(x="CAST(id AS VARCHAR)")


def _lpa_half_sql(t: int, p: int) -> str:
    """One semi-synchronous half-step: nodes of parity p adopt the most
    frequent neighbor label (tie -> smallest label); others keep."""
    return f"""c{t} AS (
  SELECT u.a AS id, l.lbl, COUNT(*) AS c
  FROM ue u JOIN l{t} l ON l.id = u.b
  WHERE u.a % 2 = {p}
  GROUP BY 1, 2
),
p{t} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
      row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
    FROM c{t})
  WHERE rn = 1
),
l{t + 1} AS MATERIALIZED (
  SELECT l.id, COALESCE(p.lbl, l.lbl) AS lbl
  FROM l{t} l LEFT JOIN p{t} p ON l.id = p.id
)"""


_LPA_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
l0 AS MATERIALIZED (
  SELECT id, {_LPA_INIT_SQL} AS lbl
  FROM (SELECT DISTINCT a AS id FROM ue)
),
{",".join(_lpa_half_sql(t, t % 2) for t in range(2 * _LPA_ROUNDS))}
SELECT CAST(id AS BIGINT) AS nation_id,
  CAST(lbl AS BIGINT) AS community,
  CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l{2 * _LPA_ROUNDS}
"""


@query("trade_label_communities", oracle=_LPA_ORACLE)
def q_trade_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007)
    over the undirected quarter trade graph — the clustering operator
    beside pagerank/k-core/k-truss/CC.  Deterministic restatement:
    initial labels are md5-prefix hashes of the node id (content-keyed,
    the engine's portable-hash discipline), updates are
    SEMI-SYNCHRONOUS by node parity — each round updates even nodes
    from current labels, then odd nodes from the half-updated state —
    which kills the oscillation synchronous LPA suffers on bipartite
    structure while staying order-independent (a half-step's updates
    are a pure function of the previous state, so any execution order
    agrees); ties break to the smallest label.  3 rounds (6 half-steps)
    unrolled; per node: final community label and community size.

    Scale shape: each half-step is one neighbor-keyed equi-join +
    map-side-combined label count + a per-node rank-1 window — the
    connected_components loop economics with a label-frequency argmax
    instead of a min fold.  Labels are 8-byte ints (never payloads);
    lineage truncates on checkpoint cadence.  The oracle unrolls the
    same half-steps as MATERIALIZED CTEs (each state referenced twice —
    the viterbi inlining lesson)."""
    from pyspark.sql import Window

    ue, lbl = _lpa_labels(spark, sf_dir)
    sizew = Window.partitionBy("lbl")
    return lbl.select(
        F.col("id").cast("bigint").alias("nation_id"),
        F.col("lbl").cast("bigint").alias("community"),
        F.count("*").over(sizew).cast("bigint").alias("community_size"),
    )


def _lpa_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(undirected edges, final (id, lbl) labels) after the
    semi-synchronous LPA rounds — shared by the community query and
    the modularity receipt."""
    from pyspark.sql import Window

    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lbl = ue.select(F.col("a").alias("id")).distinct().select(
        "id", _shingle_int(F.col("id").cast("string")).alias("lbl")
    )
    rn = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("nl"))
    )
    for t in range(2 * _LPA_ROUNDS):
        cnt = (
            ue.alias("u")
            .join(lbl.alias("l"), F.col("u.b") == F.col("l.id"))
            .filter(F.col("u.a") % 2 == t % 2)
            .groupBy(
                F.col("u.a").alias("id"), F.col("l.lbl").alias("nl")
            )
            .agg(F.count("*").alias("c"))
        )
        pick = cnt.withColumn("rn", rn).filter(F.col("rn") == 1).select(
            "id", "nl"
        )
        lbl = (
            lbl.alias("cur")
            .join(pick.alias("pk"), F.col("cur.id") == F.col("pk.id"), "left")
            .select(
                F.col("cur.id").alias("id"),
                F.coalesce(F.col("pk.nl"), F.col("cur.lbl")).alias("lbl"),
            )
        )
        if t % 2 == 1:
            lbl = lbl.localCheckpoint(eager=True)
    return ue, lbl


# ---------------------------------------------------------------------------
# Modularity receipt for the LPA communities — exact-integer Newman Q
# ---------------------------------------------------------------------------

_LPA_STEPS_SQL = ",".join(
    _lpa_half_sql(t, t % 2) for t in range(2 * _LPA_ROUNDS)
)

_MODULARITY_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
l0 AS MATERIALIZED (
  SELECT id, {_LPA_INIT_SQL} AS lbl
  FROM (SELECT DISTINCT a AS id FROM ue)
),
{_LPA_STEPS_SQL},
lab AS (SELECT id, lbl FROM l{2 * _LPA_ROUNDS}),
m2 AS (SELECT COUNT(*) AS two_m FROM ue),  -- directed pairs = 2m
intra AS (  -- directed intra-community pairs = 2*L_c summed
  SELECT COUNT(*) AS intra2
  FROM ue u JOIN lab la ON u.a = la.id JOIN lab lb ON u.b = lb.id
  WHERE la.lbl = lb.lbl
),
degs AS (
  SELECT la.lbl, SUM(d.deg) AS d_c
  FROM (SELECT a AS id, COUNT(*) AS deg FROM ue GROUP BY a) d
  JOIN lab la ON d.id = la.id
  GROUP BY la.lbl
),
num AS (  -- Q * (2m)^2 = intra2 * 2m - sum(d_c^2), exact integers
  SELECT (SELECT intra2 FROM intra) * (SELECT two_m FROM m2)
         - SUM(d_c * d_c) AS qnum,
    COUNT(*) AS n_communities
  FROM degs
)
SELECT CAST(n_communities AS BIGINT) AS n_communities,
  CAST((SELECT two_m FROM m2) // 2 AS BIGINT) AS m_edges,
  CAST((SELECT intra2 FROM intra) // 2 AS BIGINT) AS intra_edges,
  CAST(qnum AS BIGINT) AS q_num,
  CAST(qnum AS DOUBLE)
    / (CAST((SELECT two_m FROM m2) AS DOUBLE)
       * CAST((SELECT two_m FROM m2) AS DOUBLE)) AS modularity
FROM num
"""


@query("trade_modularity_score", oracle=_MODULARITY_ORACLE)
def q_trade_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality receipt
    for trade_label_communities (the banding_recall_audit discipline
    applied to clustering): Q = Σ_c [L_c/m − (d_c/2m)²] computed on
    the EXACT-INTEGER contract as Q·(2m)² = 2L·2m − Σ d_c², one
    integer numerator both engines derive identically, converted to
    double by one final division — so the score, not just the labels,
    is hash-checked.  Emits the community count, edge counts, the
    integer numerator, and Q.

    Scale shape: reuses the LPA loop (labels are read state in a
    production pipeline — build_lpa_label_table persists them bucketed
    and modularity_from_stored_labels serves this same census from the
    stored table; bench.py leg-splits build vs serve), then one
    edge-keyed join against the label table for the intra census and
    one degree rollup — both map-side combined; the final fold is
    three scalar aggregates crossed by broadcast."""
    ue, lbl = _lpa_labels(spark, sf_dir)
    lab = lbl.localCheckpoint(eager=True)
    return _modularity_census(ue, lab)


def _modularity_census(ue: DataFrame, lab: DataFrame) -> DataFrame:
    """The production census: Q of a given labeling over given
    undirected edges — one edge⋈label join + degree rollup + scalar
    fold.  Shared by the receipt query and the stored-labels serve."""
    two_m = ue.agg(F.count("*").alias("two_m"))
    intra = (
        ue.alias("u")
        .join(lab.alias("la"), F.col("u.a") == F.col("la.id"))
        .join(lab.alias("lb"), F.col("u.b") == F.col("lb.id"))
        .filter(F.col("la.lbl") == F.col("lb.lbl"))
        .agg(F.count("*").alias("intra2"))
    )
    degs = (
        ue.groupBy(F.col("a").alias("id"))
        .agg(F.count("*").alias("deg"))
        .join(lab, "id")
        .groupBy("lbl")
        .agg(F.sum("deg").alias("d_c"))
    )
    num = degs.agg(
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d2"),
        F.count("*").alias("n_communities"),
    )
    return (
        num.crossJoin(F.broadcast(two_m))
        .crossJoin(F.broadcast(intra))
        .select(
            F.col("n_communities").cast("bigint").alias("n_communities"),
            F.expr("two_m div 2").cast("bigint").alias("m_edges"),
            F.expr("intra2 div 2").cast("bigint").alias("intra_edges"),
            (F.col("intra2") * F.col("two_m") - F.col("sum_d2"))
            .cast("bigint")
            .alias("q_num"),
            (
                (F.col("intra2") * F.col("two_m") - F.col("sum_d2")).cast(
                    "double"
                )
                / (
                    F.col("two_m").cast("double")
                    * F.col("two_m").cast("double")
                )
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# Louvain-style greedy modularity move pass — quality-OPTIMIZING round on
# top of the LPA labels (VERDICT r10 item 5)
# ---------------------------------------------------------------------------


def _louvain_half_sql(src: str, dst: str, p: int) -> str:
    """One semi-synchronous greedy half-step in DuckDB: nodes of parity
    p adopt the neighbor community with the largest exact-integer
    ΔQ·(2m)² gain (ties → smallest community label), if positive."""
    return f"""s_{dst} AS MATERIALIZED (
  SELECT la.lbl, SUM(d.k) AS d_c
  FROM deg d JOIN {src} la ON d.id = la.id GROUP BY la.lbl
),
kc_{dst} AS MATERIALIZED (
  SELECT u.a AS id, lb.lbl AS c, COUNT(*) AS kic
  FROM ue u JOIN {src} lb ON u.b = lb.id
  GROUP BY 1, 2
),
own_{dst} AS (
  SELECT d.id, la.lbl AS cur, d.k,
         COALESCE(kc.kic, 0) AS kicur, s.d_c AS dcur
  FROM deg d
  JOIN {src} la ON d.id = la.id
  JOIN s_{dst} s ON la.lbl = s.lbl
  LEFT JOIN kc_{dst} kc ON kc.id = d.id AND kc.c = la.lbl
),
gain_{dst} AS (
  SELECT o.id, k.c,
    2 * (SELECT two_m FROM m2) * (k.kic - o.kicur)
      - 2 * o.k * (s.d_c - o.dcur + o.k) AS g
  FROM own_{dst} o
  JOIN kc_{dst} k ON k.id = o.id AND k.c != o.cur
  JOIN s_{dst} s ON k.c = s.lbl
  WHERE o.id % 2 = {p}
),
mv_{dst} AS (
  SELECT id, c FROM (
    SELECT id, c, g,
      row_number() OVER (PARTITION BY id ORDER BY g DESC, c) AS rn
    FROM gain_{dst})
  WHERE rn = 1 AND g > 0
),
{dst} AS MATERIALIZED (
  SELECT l.id, COALESCE(m.c, l.lbl) AS lbl
  FROM {src} l LEFT JOIN mv_{dst} m ON l.id = m.id
)"""


def _qnum_sql(lab: str) -> str:
    """Q·(2m)² for a label CTE, as one exact-integer scalar subquery."""
    return f"""(
  (SELECT COUNT(*) FROM ue u
     JOIN {lab} la ON u.a = la.id JOIN {lab} lb ON u.b = lb.id
   WHERE la.lbl = lb.lbl) * (SELECT two_m FROM m2)
  - (SELECT SUM(d_c * d_c) FROM (
       SELECT la.lbl, SUM(d.k) AS d_c
       FROM deg d JOIN {lab} la ON d.id = la.id GROUP BY la.lbl))
)"""


_LOUVAIN_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT a AS id, a AS lbl FROM ue
),
deg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS k FROM ue GROUP BY a),
m2 AS MATERIALIZED (SELECT COUNT(*) AS two_m FROM ue),
{_louvain_half_sql("lab0", "lab1", 0)},
{_louvain_half_sql("lab1", "lab2", 1)},
q AS (
  SELECT {_qnum_sql("lab0")} AS qb, {_qnum_sql("lab2")} AS qa,
    (SELECT COUNT(DISTINCT lbl) FROM lab0) AS ncb,
    (SELECT COUNT(DISTINCT lbl) FROM lab2) AS nca,
    (SELECT COUNT(*) FROM mv_lab1) + (SELECT COUNT(*) FROM mv_lab2)
      AS n_moved,
    (SELECT two_m FROM m2) AS two_m
)
SELECT CAST(ncb AS BIGINT) AS n_communities_before,
  CAST(nca AS BIGINT) AS n_communities_after,
  CAST(n_moved AS BIGINT) AS n_moved,
  CAST(qb AS BIGINT) AS q_num_before,
  CAST(qa AS BIGINT) AS q_num_after,
  CAST(qb AS DOUBLE) / (CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE))
    AS q_before,
  CAST(qa AS DOUBLE) / (CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE))
    AS q_after,
  qa >= qb AS improved
FROM q
"""


def _louvain_half(
    ue: DataFrame,
    deg: DataFrame,
    two_m: DataFrame,
    lab: DataFrame,
    p: int,
) -> tuple[DataFrame, DataFrame]:
    """One semi-synchronous greedy move half-step (Spark side of
    _louvain_half_sql).  Returns (new labels, moves)."""
    from pyspark.sql import Window

    s = (
        deg.join(lab, "id")
        .groupBy("lbl")
        .agg(F.sum("k").alias("d_c"))
    )
    kc = (
        ue.alias("u")
        .join(lab.alias("lb"), F.col("u.b") == F.col("lb.id"))
        .groupBy(F.col("u.a").alias("id"), F.col("lb.lbl").alias("c"))
        .agg(F.count("*").alias("kic"))
    )
    own = (
        deg.join(lab, "id")
        .join(s.withColumnRenamed("d_c", "dcur"), "lbl")
        .alias("o")
        .join(
            kc.alias("ko"),
            (F.col("o.id") == F.col("ko.id"))
            & (F.col("o.lbl") == F.col("ko.c")),
            "left",
        )
        .select(
            F.col("o.id").alias("id"),
            F.col("o.lbl").alias("cur"),
            F.col("o.k").alias("k"),
            F.coalesce(F.col("ko.kic"), F.lit(0)).alias("kicur"),
            F.col("o.dcur").alias("dcur"),
        )
    )
    gain = (
        own.alias("ow")
        .join(
            kc.alias("kt"),
            (F.col("ow.id") == F.col("kt.id"))
            & (F.col("kt.c") != F.col("ow.cur")),
        )
        .join(F.broadcast(s.alias("st")), F.col("kt.c") == F.col("st.lbl"))
        .crossJoin(F.broadcast(two_m))
        .filter(F.col("ow.id") % 2 == p)
        .select(
            F.col("ow.id").alias("id"),
            F.col("kt.c").alias("c"),
            (
                F.lit(2)
                * F.col("two_m")
                * (F.col("kt.kic") - F.col("ow.kicur"))
                - F.lit(2)
                * F.col("ow.k")
                * (F.col("st.d_c") - F.col("ow.dcur") + F.col("ow.k"))
            ).alias("g"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("g").desc(), F.col("c"))
    )
    mv = (
        gain.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("g") > 0))
        .select("id", "c")
    )
    new_lab = (
        lab.alias("cur")
        .join(mv.alias("m"), F.col("cur.id") == F.col("m.id"), "left")
        .select(
            F.col("cur.id").alias("id"),
            F.coalesce(F.col("m.c"), F.col("cur.lbl")).alias("lbl"),
        )
        .localCheckpoint(eager=True)
    )
    return new_lab, mv


def _qnum(ue: DataFrame, deg: DataFrame, lab: DataFrame) -> DataFrame:
    """Single-row (qnum, ncomm) frame: Q·(2m)² numerator WITHOUT the
    two_m factor applied — emits (intra2, sum_d2, ncomm) so the caller
    multiplies by its broadcast two_m scalar (exact integers)."""
    intra2 = (
        ue.alias("u")
        .join(lab.alias("la"), F.col("u.a") == F.col("la.id"))
        .join(lab.alias("lb"), F.col("u.b") == F.col("lb.id"))
        .filter(F.col("la.lbl") == F.col("lb.lbl"))
        .agg(F.count("*").alias("intra2"))
    )
    d2 = (
        deg.join(lab, "id")
        .groupBy("lbl")
        .agg(F.sum("k").alias("d_c"))
        .agg(
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d2"),
            F.count("*").alias("ncomm"),
        )
    )
    return d2.crossJoin(F.broadcast(intra2))


@query("trade_louvain_move", oracle=_LOUVAIN_ORACLE)
def q_trade_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style GREEDY modularity round — the quality-OPTIMIZING
    community operator (Blondel et al. 2008 phase-1 local moves, one
    deterministic pass) from the canonical SINGLETON seed (each node
    its own community — seeding from trade_label_communities would be
    vacuous here: LPA already collapses the fixture's dense nation
    graph to ONE community, zero moves; the singleton seed exercises
    real moves and a real Q climb, and is exactly how Louvain's first
    phase starts): each node evaluates moving to each NEIGHBOR
    community and adopts the one with the largest exact-integer gain
    ΔQ·(2m)² = 2·2m·(k_{{i,c}} − k_{{i,cur}})
    − 2·k_i·(Σtot_c − Σtot_{{cur\\i}} + k_i), ties to the smallest
    community label, only if the gain is strictly positive.  Moves are
    SEMI-SYNCHRONOUS by node parity (even nodes move against the seed
    state, community stats recompute, then odd nodes) — the same
    oscillation-killing discipline as trade_label_communities.  Emits
    community counts before/after, the move count, both exact-integer
    Q numerators, both Q doubles (single int→double division), and
    improved = q_after >= q_before COMPUTED identically on both
    engines.  Sequential Louvain guarantees monotone Q; the parity-
    parallel pass does not in theory (simultaneous movers into one
    community interact through the Σtot² cross-term), so improvement is
    asserted empirically per fixture in tests/test_graph_quality.py
    rather than stated TRUE in the oracle — on both test SFs the pass
    strictly improves Q with real moves.

    Scale shape: per half-step, one neighbor-keyed equi-join census
    (kc), one degree rollup (s, community-count-sized and broadcast
    into the gain join), a per-node rank-1 window, and a labels-sized
    left join — the LPA half-step economics plus one broadcast; gains
    are exact 8-byte ints; lineage truncates per half-step
    (localCheckpoint).  The move evaluation never materializes
    non-neighbor candidates, so cost rides the edge count, not
    nodes × communities."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab0 = (
        ue.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    deg = ue.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("k"))
    deg = deg.localCheckpoint(eager=True)
    two_m = ue.agg(F.count("*").alias("two_m"))
    lab1, mv1 = _louvain_half(ue, deg, two_m, lab0, 0)
    lab2, mv2 = _louvain_half(ue, deg, two_m, lab1, 1)
    n_moved = (
        mv1.agg(F.count("*").alias("nm1"))
        .crossJoin(F.broadcast(mv2.agg(F.count("*").alias("nm2"))))
        .select((F.col("nm1") + F.col("nm2")).alias("n_moved"))
    )
    qb = _qnum(ue, deg, lab0).select(
        F.col("intra2").alias("b_intra2"),
        F.col("sum_d2").alias("b_sum_d2"),
        F.col("ncomm").alias("ncb"),
    )
    qa = _qnum(ue, deg, lab2).select(
        F.col("intra2").alias("a_intra2"),
        F.col("sum_d2").alias("a_sum_d2"),
        F.col("ncomm").alias("nca"),
    )
    qbn = F.col("b_intra2") * F.col("two_m") - F.col("b_sum_d2")
    qan = F.col("a_intra2") * F.col("two_m") - F.col("a_sum_d2")
    den = F.col("two_m").cast("double") * F.col("two_m").cast("double")
    return (
        qb.crossJoin(F.broadcast(qa))
        .crossJoin(F.broadcast(two_m))
        .crossJoin(F.broadcast(n_moved))
        .select(
            F.col("ncb").cast("bigint").alias("n_communities_before"),
            F.col("nca").cast("bigint").alias("n_communities_after"),
            F.col("n_moved").cast("bigint").alias("n_moved"),
            qbn.cast("bigint").alias("q_num_before"),
            qan.cast("bigint").alias("q_num_after"),
            (qbn.cast("double") / den).alias("q_before"),
            (qan.cast("double") / den).alias("q_after"),
            (qan >= qbn).alias("improved"),
        )
    )


def build_lpa_label_table(
    spark: SparkSession, sf_dir: str, table: str
) -> None:
    """Persist the LPA community labels as a bucketed catalog table —
    the stored-model pattern (stored_model_confusion, ivfpq_stored):
    the label propagation loop is TRAINING, run rarely; serving reads
    the stored labels.  Bucketed on id so label joins against
    same-bucketed node-keyed tables can co-locate."""
    from ..sinks.bucketed import drop_table_and_location, write_bucketed

    _, lbl = _lpa_labels(spark, sf_dir)
    drop_table_and_location(spark, table)
    write_bucketed(lbl, table, key="id", n_buckets=4)


def modularity_from_stored_labels(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """Serve the modularity census from STORED labels — the production
    leg of trade_modularity_score (the query re-runs the LPA loop
    because labels are read state; this is what reading that state
    costs): derive the quarter's undirected edges, join them to the
    stored label table, census + scalar fold.  bench.py leg-splits
    this against the label build."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    return _modularity_census(ue, spark.table(table))


# ---------------------------------------------------------------------------
# Louvain phase-2 contraction — community graph + modularity invariance
# ---------------------------------------------------------------------------

_CONTRACT_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT a AS id, a AS lbl FROM ue
),
deg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS k FROM ue GROUP BY a),
m2 AS MATERIALIZED (SELECT COUNT(*) AS two_m FROM ue),
{_louvain_half_sql("lab0", "lab1", 0)},
{_louvain_half_sql("lab1", "lab2", 1)},
super_e AS MATERIALIZED (
  SELECT la.lbl AS src_comm, lb.lbl AS dst_comm,
    COUNT(*) AS weight
  FROM ue u
  JOIN lab2 la ON u.a = la.id
  JOIN lab2 lb ON u.b = lb.id
  GROUP BY 1, 2
),
q_orig AS (
  SELECT {_qnum_sql("lab2")} AS qn
),
-- Q of the CONTRACTED weighted graph under the identity labeling:
-- sigma_in(c) = self-loop weight, sigma_tot(c) = weighted degree
-- (self-loops count fully in the directed-pair convention)
strength AS (
  SELECT src_comm AS c, SUM(weight) AS s FROM super_e GROUP BY 1
),
q_contr AS (
  SELECT
    (SELECT COALESCE(SUM(weight), 0) FROM super_e
     WHERE src_comm = dst_comm) * (SELECT two_m FROM m2)
    - (SELECT SUM(s * s) FROM strength) AS qn
),
w_sum AS (SELECT SUM(weight) AS tw FROM super_e)
SELECT se.src_comm, se.dst_comm,
  CAST(se.weight AS BIGINT) AS weight,
  CAST((SELECT qn FROM q_orig) AS BIGINT) AS q_num_labeling,
  CAST((SELECT qn FROM q_contr) AS BIGINT) AS q_num_contracted,
  TRUE AS q_conserved,
  TRUE AS weight_conserved
FROM super_e se
"""


def _lv_pair_labels_sql(weighted: bool) -> str:
    """ONE semi-synchronous parity pair (even half then odd half) as a
    single JVM expression over a collected edge array — the
    `_lvc_fold_sql` machinery reduced to its label output: returns
    struct(labs: array<struct<id, lbl>>, nmv_even, nmv_odd).

    The nation graph (and its contracted community graph) is
    SCHEMA-bounded, so after the one data-scale `_trade_edges` pass
    the greedy pair is scalar work; the r14 jobstat showed the
    per-half frame chains cost ~25 jobs each of pure scheduling
    (trade_louvain_two_level: 168 jobs, trade_louvain_contract: 73).
    ``weighted`` switches to the contracted-graph algebra
    (`_louvain_whalf`): eg elements carry w, strengths include
    self-loops, the neighbor census excludes them, and two_m is the
    CONSERVED original Σw.  Identical ΔQ·(2m)² integers, ties to the
    smallest community, strict-positive move rule.

    Lambda-variable hygiene (CLAUDE.md): every nested lambda var is
    unique (wlm/wdm/wne/wk0/wk2/wcf/wcc/wls/wbs/...) — an inner var
    shadowing an outer fold's var silently corrupts the census."""
    one = "CAST(1 AS BIGINT)"
    zero = "CAST(0 AS BIGINT)"
    w_of = "wne.w" if weighted else one
    self_excl = " AND wne.a != wne.b" if weighted else ""
    lookup = lambda ns, vid: (  # noqa: E731 — label of node `vid`
        f"aggregate(filter({ns}, wlm -> wlm.id = {vid}),"
        f" CAST(NULL AS BIGINT), (wlr, wlm) -> wlm.lbl)"
    )
    d_of = lambda ns, c: (  # noqa: E731 — Σtot strength of community c
        f"aggregate({ns}, {zero},"
        f" (wds, wdm) -> wds + CASE WHEN wdm.lbl = ({c}) THEN wdm.k"
        f" ELSE {zero} END)"
    )
    two_m = (
        f"aggregate(eg, {zero}, (wts, wte) -> wts + wte.w)"
        if weighted
        else "CAST(size(eg) AS BIGINT)"
    )

    def half(ns: str, p: int) -> str:
        # (community label, weight) of each non-self neighbor edge
        nbrl = (
            f"transform(filter(eg, wne -> wne.a = n.id{self_excl}),"
            f" wne -> struct({lookup(ns, 'wne.b')} AS l,"
            f" CAST({w_of} AS BIGINT) AS w))"
        )
        kicur = (
            f"aggregate(filter({nbrl}, wk0 -> wk0.l = n.lbl), {zero},"
            f" (wks, wk0) -> wks + wk0.w)"
        )
        kic_cc = (
            f"aggregate(filter({nbrl}, wk2 -> wk2.l = wcc), {zero},"
            f" (wks2, wk2) -> wks2 + wk2.w)"
        )
        cand = f"""transform(
            array_distinct(transform(filter({nbrl}, wcf -> wcf.l != n.lbl),
                                     wcf2 -> wcf2.l)),
            wcc -> struct(
              2 * ({two_m}) * ({kic_cc} - {kicur})
              - 2 * n.k * ({d_of(ns, 'wcc')} - {d_of(ns, 'n.lbl')} + n.k) AS g,
              wcc AS c))"""
        best = f"""aggregate({cand},
            CAST(NULL AS struct<g: bigint, c: bigint>),
            (wbs, wt) -> CASE WHEN wbs IS NULL OR wt.g > wbs.g
                               OR (wt.g = wbs.g AND wt.c < wbs.c)
                         THEN wt ELSE wbs END)"""
        newlbl = (
            f"CASE WHEN ({best}).g > 0 THEN ({best}).c ELSE n.lbl END"
        )
        ns2x = f"""transform({ns}, n -> CASE WHEN n.id % 2 = {p}
            THEN struct(n.id AS id, {newlbl} AS lbl, n.k AS k, n.lbl AS old)
            ELSE struct(n.id AS id, n.lbl AS lbl, n.k AS k, n.lbl AS old) END)"""
        return f"""aggregate(array({ns2x}),
            CAST(NULL AS struct<ns: array<struct<id: bigint, lbl: bigint, k: bigint>>, nmv: bigint>),
            (wzz, wtt) -> struct(
              transform(wtt, wx -> struct(wx.id AS id, wx.lbl AS lbl, wx.k AS k)) AS ns,
              CAST(size(filter(wtt, wx2 -> wx2.lbl != wx2.old)) AS BIGINT) AS nmv))"""

    k_of = (
        f"aggregate(filter(eg, wke -> wke.a = wv), {zero},"
        f" (wks3, wke) -> wks3 + wke.w)"
        if weighted
        else "CAST(size(filter(eg, wke -> wke.a = wv)) AS BIGINT)"
    )
    ns0 = f"""transform(array_distinct(transform(eg, wie -> wie.a)),
        wv -> struct(CAST(wv AS BIGINT) AS id, CAST(wv AS BIGINT) AS lbl,
                     CAST({k_of} AS BIGINT) AS k))"""
    out_t = (
        "struct<labs: array<struct<id: bigint, lbl: bigint>>,"
        " nmv_even: bigint, nmv_odd: bigint>"
    )
    return f"""aggregate(
  array({ns0}),
  CAST(NULL AS {out_t}),
  (wz, wns0) -> aggregate(
    array({half('wns0', 0)}),
    CAST(NULL AS {out_t}),
    (wa0, wh0) -> aggregate(
      array({half('wh0.ns', 1)}),
      wa0,
      (wa1, wh1) -> struct(
        transform(wh1.ns, wn -> struct(wn.id AS id, wn.lbl AS lbl)) AS labs,
        wh0.nmv AS nmv_even,
        wh1.nmv AS nmv_odd))),
  wz -> wz)"""


# Ceiling of the collected pair fold: above the 25-nation trade graph
# (at most 25·25 directed pairs with self-loops) and its contracted
# community graph.  The fold's nodes are the edges' endpoints, so the
# edge count bounds both; past it the one-task fold raises instead of
# straggling.
_LV_FOLD_MAX_EDGES = 1_000


def _lv_fold_guarded(fold: Column, who: str) -> Column:
    """``fold`` over the collected edge array ``eg``, or a raise when
    ``eg`` holds more than ``_LV_FOLD_MAX_EDGES`` edges — checked in the
    fold's own projection, so no job is added."""
    return F.when(
        F.size("eg") > _LV_FOLD_MAX_EDGES,
        F.raise_error(
            F.format_string(
                f"{who}: %d edges exceed the {_LV_FOLD_MAX_EDGES} ceiling",
                F.size("eg"),
            )
        ),
    ).otherwise(fold)


def _lv_pair_labels(
    edges: DataFrame, weighted: bool
) -> DataFrame:
    """(id, lbl) labels after one greedy parity pair, via the collected
    JVM fold — plus the two half move counts as repeated columns.
    ``edges`` is (a, b) or (a, b, w); more than ``_LV_FOLD_MAX_EDGES``
    of them raises."""
    cols = [
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        (
            F.col("w").cast("bigint")
            if weighted
            else F.lit(1).cast("bigint")
        ).alias("w"),
    ]
    one = edges.select(cols).agg(
        F.collect_list(F.struct("a", "b", "w")).alias("eg")
    )
    r = one.select(
        _lv_fold_guarded(
            F.expr(_lv_pair_labels_sql(weighted)), "_lv_pair_labels"
        ).alias("r")
    ).select(
        F.explode("r.labs").alias("l"), "r.nmv_even", "r.nmv_odd"
    )
    # restore the caller's id dtype (the fold computes in bigint; the
    # frame-loop labels carried the edge table's own key type)
    idt = edges.schema["a"].dataType
    return r.select(
        F.col("l.id").cast(idt).alias("id"),
        F.col("l.lbl").cast(idt).alias("lbl"),
        "nmv_even",
        "nmv_odd",
    )


@query("trade_louvain_contract", oracle=_CONTRACT_ORACLE)
def q_trade_louvain_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Louvain PHASE-2 contraction — the community graph that feeds the
    next level of the hierarchy (Blondel et al. 2008): after the
    phase-1 greedy moves (trade_louvain_move's labels), communities
    collapse to super-nodes and edge multiplicities to weights
    (intra-community pairs become self-loops).  Emits the contracted
    weighted graph plus two EXACT-INTEGER conservation receipts the
    contraction must satisfy or it is wrong:

    - q_conserved: Q·(2m)² of the original labeling equals Q·(2m)² of
      the contracted weighted graph under the identity labeling
      (σ_in(c) = self-loop weight, σ_tot(c) = weighted super-node
      degree with self-loops counted fully) — the invariance that
      makes multi-level Louvain correct;
    - weight_conserved: super-edge weights sum to 2m (every directed
      pair lands in exactly one community pair).

    Both receipts are computed on the Spark side and STATED true by
    the oracle — mathematically guaranteed identities, so any
    aggregation drift breaks the value hash (the sketch-audit form).

    Scale shape: contraction is ONE edge⋈label⋈label join +
    community-pair rollup (map-side combined; labels broadcast at
    community-table size); both Q numerators are scalar folds over
    community-sized frames.  At 100 TB the contracted graph is
    communities², usually orders of magnitude smaller than the input —
    the whole point of the multi-level scheme."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = ue.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("k"))
    two_m = ue.agg(F.count("*").alias("two_m"))
    # r15: the nation graph is schema-bounded, so the two greedy
    # half-steps run as one collected JVM fold (the
    # trade_louvain_converged_level recipe, `_lv_pair_labels`) — the
    # per-half frame chains were ~25 jobs each of pure scheduling
    # (jobstat: this row was 73 jobs / 76 tasks).  Identical
    # ΔQ·(2m)² integers; the labels frame below is byte-identical.
    lab2 = (
        _lv_pair_labels(ue, weighted=False)
        .select("id", "lbl")
        .localCheckpoint(eager=True)
    )
    super_e = (
        ue.alias("u")
        .join(
            F.broadcast(lab2.alias("la")), F.col("u.a") == F.col("la.id")
        )
        .join(
            F.broadcast(lab2.alias("lb")), F.col("u.b") == F.col("lb.id")
        )
        .groupBy(
            F.col("la.lbl").alias("src_comm"),
            F.col("lb.lbl").alias("dst_comm"),
        )
        .agg(F.count("*").alias("weight"))
        .localCheckpoint(eager=True)
    )
    # Q of the labeling on the ORIGINAL graph (exact ints)
    qo = _qnum(ue, deg, lab2).crossJoin(F.broadcast(two_m)).select(
        (F.col("intra2") * F.col("two_m") - F.col("sum_d2")).alias("q_orig")
    )
    # Q of the contracted weighted graph under identity labeling
    self_w = super_e.filter(
        F.col("src_comm") == F.col("dst_comm")
    ).agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("sw"))
    strength = super_e.groupBy("src_comm").agg(F.sum("weight").alias("s"))
    s2 = strength.agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
    qc = (
        self_w.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(two_m))
        .select((F.col("sw") * F.col("two_m") - F.col("s2")).alias("q_contr"))
    )
    tw = super_e.agg(F.sum("weight").alias("tw"))
    scalars = (
        qo.crossJoin(F.broadcast(qc))
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(two_m))
        .select(
            F.col("q_orig").cast("bigint").alias("q_num_labeling"),
            F.col("q_contr").cast("bigint").alias("q_num_contracted"),
            (F.col("q_orig") == F.col("q_contr")).alias("q_conserved"),
            (F.col("tw") == F.col("two_m")).alias("weight_conserved"),
        )
    )
    return super_e.crossJoin(F.broadcast(scalars)).select(
        "src_comm",
        "dst_comm",
        F.col("weight").cast("bigint").alias("weight"),
        "q_num_labeling",
        "q_num_contracted",
        "q_conserved",
        "weight_conserved",
    )


# ---------------------------------------------------------------------------
# Louvain multi-level composition — move → contract → move on the
# contracted weighted graph (the loop that makes Louvain Louvain)
# ---------------------------------------------------------------------------


def _louvain_whalf_sql(src: str, dst: str, p: int) -> str:
    """One WEIGHTED semi-synchronous greedy half-step in DuckDB over
    the contracted graph CTE ``we`` (a, b, w; self-loops carry the
    intra weight): identical ΔQ·(2m)² algebra as _louvain_half_sql
    with weighted degrees (strengths INCLUDE self-loops — they ride
    σ_tot and move with the node, cancelling in the gain) and the
    neighbor census excluding self-loops (a self-loop is not an edge
    to another member)."""
    return f"""ws_{dst} AS MATERIALIZED (
  SELECT la.lbl, SUM(d.k) AS d_c
  FROM wdeg d JOIN {src} la ON d.id = la.id GROUP BY la.lbl
),
wkc_{dst} AS MATERIALIZED (
  SELECT u.a AS id, lb.lbl AS c, SUM(u.w) AS kic
  FROM we u JOIN {src} lb ON u.b = lb.id
  WHERE u.a != u.b
  GROUP BY 1, 2
),
wown_{dst} AS (
  SELECT d.id, la.lbl AS cur, d.k,
         COALESCE(kc.kic, 0) AS kicur, s.d_c AS dcur
  FROM wdeg d
  JOIN {src} la ON d.id = la.id
  JOIN ws_{dst} s ON la.lbl = s.lbl
  LEFT JOIN wkc_{dst} kc ON kc.id = d.id AND kc.c = la.lbl
),
wgain_{dst} AS (
  SELECT o.id, k.c,
    2 * (SELECT two_m FROM m2) * (k.kic - o.kicur)
      - 2 * o.k * (s.d_c - o.dcur + o.k) AS g
  FROM wown_{dst} o
  JOIN wkc_{dst} k ON k.id = o.id AND k.c != o.cur
  JOIN ws_{dst} s ON k.c = s.lbl
  WHERE o.id % 2 = {p}
),
wmv_{dst} AS (
  SELECT id, c FROM (
    SELECT id, c, g,
      row_number() OVER (PARTITION BY id ORDER BY g DESC, c) AS rn
    FROM wgain_{dst})
  WHERE rn = 1 AND g > 0
),
{dst} AS MATERIALIZED (
  SELECT l.id, COALESCE(m.c, l.lbl) AS lbl
  FROM {src} l LEFT JOIN wmv_{dst} m ON l.id = m.id
)"""


def _wqnum_sql(lab: str) -> str:
    """Q·(2m)² of the weighted contracted graph under label CTE
    ``lab`` — intra weight INCLUDES self-loops."""
    return f"""(
  (SELECT COALESCE(SUM(u.w), 0) FROM we u
     JOIN {lab} la ON u.a = la.id JOIN {lab} lb ON u.b = lb.id
   WHERE la.lbl = lb.lbl) * (SELECT two_m FROM m2)
  - (SELECT SUM(d_c * d_c) FROM (
       SELECT la.lbl, SUM(d.k) AS d_c
       FROM wdeg d JOIN {lab} la ON d.id = la.id GROUP BY la.lbl))
)"""


_TWO_LEVEL_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT a AS id, a AS lbl FROM ue
),
deg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS k FROM ue GROUP BY a),
m2 AS MATERIALIZED (SELECT COUNT(*) AS two_m FROM ue),
{_louvain_half_sql("lab0", "lab1", 0)},
{_louvain_half_sql("lab1", "lab2", 1)},
we AS MATERIALIZED (
  SELECT la.lbl AS a, lb.lbl AS b, COUNT(*) AS w
  FROM ue u
  JOIN lab2 la ON u.a = la.id
  JOIN lab2 lb ON u.b = lb.id
  GROUP BY 1, 2
),
wlab0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM we),
wdeg AS MATERIALIZED (SELECT a AS id, SUM(w) AS k FROM we GROUP BY a),
{_louvain_whalf_sql("wlab0", "wlab1", 0)},
{_louvain_whalf_sql("wlab1", "wlab2", 1)},
flat AS MATERIALIZED (
  SELECT l.id, w.lbl AS lbl
  FROM lab2 l JOIN wlab2 w ON l.lbl = w.id
),
q AS (
  SELECT {_qnum_sql("lab0")} AS q0,
    {_qnum_sql("lab2")} AS q1,
    {_wqnum_sql("wlab2")} AS q2,
    (SELECT COUNT(DISTINCT lbl) FROM lab0) AS n_nodes,
    (SELECT COUNT(DISTINCT lbl) FROM lab2) AS nc1,
    (SELECT COUNT(DISTINCT lbl) FROM wlab2) AS nc2,
    (SELECT COUNT(*) FROM wmv_wlab1) + (SELECT COUNT(*) FROM wmv_wlab2)
      AS n_moved_l2,
    (SELECT two_m FROM m2) AS two_m
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(nc1 AS BIGINT) AS n_comm_l1,
  CAST(nc2 AS BIGINT) AS n_comm_l2,
  CAST(n_moved_l2 AS BIGINT) AS n_moved_l2,
  CAST(q0 AS BIGINT) AS q_num_l0,
  CAST(q1 AS BIGINT) AS q_num_l1,
  CAST(q2 AS BIGINT) AS q_num_l2,
  CAST(q0 AS DOUBLE) / NULLIF(CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE), 0.0) AS q_l0,
  CAST(q1 AS DOUBLE) / NULLIF(CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE), 0.0) AS q_l1,
  CAST(q2 AS DOUBLE) / NULLIF(CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE), 0.0) AS q_l2,
  q1 >= q0 AS l1_improved,
  q2 >= q1 AS l2_improved,
  -- stated identity, guarded for the empty graph (where Spark's
  -- computed NULL == NULL equality is NULL, not TRUE)
  CASE WHEN q2 IS NULL THEN NULL ELSE TRUE END AS flat_conserved
FROM q
"""


def _louvain_whalf(
    we: DataFrame,
    wdeg: DataFrame,
    two_m: DataFrame,
    lab: DataFrame,
    p: int,
) -> tuple[DataFrame, DataFrame]:
    """One WEIGHTED semi-synchronous greedy half-step (Spark side of
    _louvain_whalf_sql).  Returns (new labels, moves)."""
    from pyspark.sql import Window

    s = wdeg.join(lab, "id").groupBy("lbl").agg(F.sum("k").alias("d_c"))
    kc = (
        we.alias("u")
        .filter(F.col("u.a") != F.col("u.b"))
        .join(lab.alias("lb"), F.col("u.b") == F.col("lb.id"))
        .groupBy(F.col("u.a").alias("id"), F.col("lb.lbl").alias("c"))
        .agg(F.sum("w").alias("kic"))
    )
    own = (
        wdeg.join(lab, "id")
        .join(s.withColumnRenamed("d_c", "dcur"), "lbl")
        .alias("o")
        .join(
            kc.alias("ko"),
            (F.col("o.id") == F.col("ko.id"))
            & (F.col("o.lbl") == F.col("ko.c")),
            "left",
        )
        .select(
            F.col("o.id").alias("id"),
            F.col("o.lbl").alias("cur"),
            F.col("o.k").alias("k"),
            F.coalesce(F.col("ko.kic"), F.lit(0)).alias("kicur"),
            F.col("o.dcur").alias("dcur"),
        )
    )
    gain = (
        own.alias("ow")
        .join(
            kc.alias("kt"),
            (F.col("ow.id") == F.col("kt.id"))
            & (F.col("kt.c") != F.col("ow.cur")),
        )
        .join(F.broadcast(s.alias("st")), F.col("kt.c") == F.col("st.lbl"))
        .crossJoin(F.broadcast(two_m))
        .filter(F.col("ow.id") % 2 == p)
        .select(
            F.col("ow.id").alias("id"),
            F.col("kt.c").alias("c"),
            (
                F.lit(2)
                * F.col("two_m")
                * (F.col("kt.kic") - F.col("ow.kicur"))
                - F.lit(2)
                * F.col("ow.k")
                * (F.col("st.d_c") - F.col("ow.dcur") + F.col("ow.k"))
            ).alias("g"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("id").orderBy(F.col("g").desc(), F.col("c"))
    )
    mv = (
        gain.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("g") > 0))
        .select("id", "c")
    )
    new_lab = (
        lab.alias("cur")
        .join(mv.alias("m"), F.col("cur.id") == F.col("m.id"), "left")
        .select(
            F.col("cur.id").alias("id"),
            F.coalesce(F.col("m.c"), F.col("cur.lbl")).alias("lbl"),
        )
        .localCheckpoint(eager=True)
    )
    return new_lab, mv


def _wqnum(we: DataFrame, wdeg: DataFrame, lab: DataFrame) -> DataFrame:
    """Single-row (intra_w, sum_d2) frame for the weighted contracted
    graph — intra weight includes self-loops; caller multiplies by its
    broadcast two_m scalar (exact integers)."""
    intra = (
        we.alias("u")
        .join(lab.alias("la"), F.col("u.a") == F.col("la.id"))
        .join(lab.alias("lb"), F.col("u.b") == F.col("lb.id"))
        .filter(F.col("la.lbl") == F.col("lb.lbl"))
        .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("intra_w"))
    )
    d2 = (
        wdeg.join(lab, "id")
        .groupBy("lbl")
        .agg(F.sum("k").alias("d_c"))
        .agg(F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d2"))
    )
    return d2.crossJoin(F.broadcast(intra))


@query("trade_louvain_two_level", oracle=_TWO_LEVEL_ORACLE)
def q_trade_louvain_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Louvain MULTI-LEVEL composition — the move → contract → move
    loop that makes Louvain Louvain (Blondel et al. 2008 §2): level 1
    runs the phase-1 greedy pass on the original graph from the
    singleton seed (trade_louvain_move's two parity half-steps),
    phase 2 contracts communities to a WEIGHTED super-graph
    (trade_louvain_contract, intra weight as self-loops), and level 2
    re-runs the greedy pass ON THE CONTRACTED GRAPH — weighted
    degrees are strengths (self-loops included: they ride σ_tot and
    move with the node, cancelling in the gain), the neighbor census
    excludes self-loops, and the ΔQ·(2m)² algebra is otherwise
    unchanged because 2m is CONSERVED by contraction.

    Receipts (all exact integers in the same (2m)² scale, so the
    three levels are directly comparable):
    - q_num_l0 ≤ q_num_l1 ≤ q_num_l2 — the cross-LEVEL monotone
      climb, emitted as l1_improved / l2_improved computed identically
      on both engines (semi-synchronous parity passes are not
      theoretically monotone, so the booleans are computed, not
      stated; tests/test_graph_quality.py pins them TRUE with real
      moves on both fixture SFs);
    - flat_conserved (oracle states TRUE, Spark computes): Q of the
      level-2 labeling on the CONTRACTED graph equals Q of the
      composed node→lbl1→lbl2 FLAT labeling on the ORIGINAL graph —
      the contraction invariance applied at the composed level, the
      identity that justifies iterating on the small graph.

    Scale shape: level 1 is the trade_louvain_move plan (edge-keyed
    census + broadcast community stats per half-step); contraction is
    one edge⋈label⋈label rollup; level 2 repeats the same plan on a
    COMMUNITIES-sized graph — at 100 TB each level shrinks the
    working set by the community factor, which is exactly why
    multi-level Louvain scales where flat passes stall."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab0 = (
        ue.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    deg = ue.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("k"))
    deg = deg.localCheckpoint(eager=True)
    two_m = ue.agg(F.count("*").alias("two_m"))
    # r15: both levels' greedy pairs run as collected JVM folds — the
    # nation graph and its contracted community graph are
    # schema-bounded, and the four per-half frame chains were ~25 jobs
    # each of scheduling (jobstat: this row was 168 jobs / 171 tasks).
    # Identical ΔQ·(2m)² integers at both levels (`_lv_pair_labels`,
    # weighted=True for the contracted level: strengths include
    # self-loops, census excludes them, two_m conserved).
    lab2 = (
        _lv_pair_labels(ue, weighted=False)
        .select("id", "lbl")
        .localCheckpoint(eager=True)
    )
    we = (
        ue.alias("u")
        .join(F.broadcast(lab2.alias("la")), F.col("u.a") == F.col("la.id"))
        .join(F.broadcast(lab2.alias("lb")), F.col("u.b") == F.col("lb.id"))
        .groupBy(F.col("la.lbl").alias("a"), F.col("lb.lbl").alias("b"))
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=True)
    )
    wdeg = we.groupBy(F.col("a").alias("id")).agg(F.sum("w").alias("k"))
    wfold = _lv_pair_labels(we, weighted=True).localCheckpoint(eager=True)
    wlab2 = wfold.select("id", "lbl")
    # agg (not limit(1)): on an EMPTY graph the fold frame has zero
    # rows and a limit would erase the single output row the old
    # count-agg form always produced
    n_moved = wfold.agg(
        (
            F.coalesce(F.max("nmv_even"), F.lit(0))
            + F.coalesce(F.max("nmv_odd"), F.lit(0))
        ).alias("n_moved_l2")
    )
    flat = (
        lab2.alias("l")
        .join(F.broadcast(wlab2.alias("w")), F.col("l.lbl") == F.col("w.id"))
        .select(F.col("l.id").alias("id"), F.col("w.lbl").alias("lbl"))
    )
    q0 = _qnum(ue, deg, lab0).select(
        F.col("intra2").alias("i0"), F.col("sum_d2").alias("s0")
    )
    q1f = _qnum(ue, deg, lab2).select(
        F.col("intra2").alias("i1"),
        F.col("sum_d2").alias("s1"),
        F.col("ncomm").alias("nc1"),
    )
    q2w = _wqnum(we, wdeg, wlab2).select(
        F.col("intra_w").alias("i2"), F.col("sum_d2").alias("s2")
    )
    q2f = _qnum(ue, deg, flat).select(
        F.col("intra2").alias("i2f"), F.col("sum_d2").alias("s2f")
    )
    counts = (
        lab0.agg(F.count("*").alias("n_nodes"))
        .crossJoin(
            F.broadcast(
                wlab2.select("lbl").distinct().agg(
                    F.count("*").alias("nc2")
                )
            )
        )
    )
    qn0 = F.col("i0") * F.col("two_m") - F.col("s0")
    qn1 = F.col("i1") * F.col("two_m") - F.col("s1")
    qn2 = F.col("i2") * F.col("two_m") - F.col("s2")
    qn2f = F.col("i2f") * F.col("two_m") - F.col("s2f")
    den = F.nullif(
        F.col("two_m").cast("double") * F.col("two_m").cast("double"),
        F.lit(0.0),
    )
    return (
        q0.crossJoin(F.broadcast(q1f))
        .crossJoin(F.broadcast(q2w))
        .crossJoin(F.broadcast(q2f))
        .crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(n_moved))
        .crossJoin(F.broadcast(two_m))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("nc1").cast("bigint").alias("n_comm_l1"),
            F.col("nc2").cast("bigint").alias("n_comm_l2"),
            F.col("n_moved_l2").cast("bigint").alias("n_moved_l2"),
            qn0.cast("bigint").alias("q_num_l0"),
            qn1.cast("bigint").alias("q_num_l1"),
            qn2.cast("bigint").alias("q_num_l2"),
            (qn0.cast("double") / den).alias("q_l0"),
            (qn1.cast("double") / den).alias("q_l1"),
            (qn2.cast("double") / den).alias("q_l2"),
            (qn1 >= qn0).alias("l1_improved"),
            (qn2 >= qn1).alias("l2_improved"),
            (qn2 == qn2f).alias("flat_conserved"),
        )
    )


# ---------------------------------------------------------------------------
# Louvain level-1 CONVERGENCE loop — iterate move pairs to the modularity
# fixpoint (first non-improving pair), the full phase-1 algorithm
# ---------------------------------------------------------------------------

_LVC_PAIRS = 4  # bounded unroll: the stop pair is 3 (sf0.001, where raw
# moves OSCILLATE 3/0 forever) and 2 (sf0.01/sf0.1)
# (72ef586:tools/louvain_probe.py).  tests/test_graph_quality.py::
# test_louvain_converged_level_stops_at_first_nonimproving_pair fails
# if a fixture climbs past 4 pairs; then the query (plus its oracle)
# grows a pair.


def _lvc_oracle() -> str:
    halves = []
    src = "lab0"
    for k in range(1, _LVC_PAIRS + 1):
        halves.append(_louvain_half_sql(src, f"lab{2 * k - 1}", 0))
        halves.append(_louvain_half_sql(f"lab{2 * k - 1}", f"lab{2 * k}", 1))
        src = f"lab{2 * k}"
    pair_rows = [
        f"""SELECT 0 AS pair, CAST(NULL AS BIGINT) AS n_moved_even,
    CAST(NULL AS BIGINT) AS n_moved_odd,
    {_qnum_sql("lab0")} AS q_num,
    (SELECT COUNT(DISTINCT lbl) FROM lab0) AS ncomm"""
    ]
    for k in range(1, _LVC_PAIRS + 1):
        pair_rows.append(f"""SELECT {k},
    (SELECT COUNT(*) FROM mv_lab{2 * k - 1}),
    (SELECT COUNT(*) FROM mv_lab{2 * k}),
    {_qnum_sql(f"lab{2 * k}")},
    (SELECT COUNT(DISTINCT lbl) FROM lab{2 * k})""")
    halves_sql = ",\n".join(halves)
    pair_rows_sql = " UNION ALL ".join(pair_rows)
    return f"""
WITH e0 AS MATERIALIZED ({_EDGES_SQL}),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM e0 WHERE src != dst
  UNION
  SELECT dst, src FROM e0 WHERE src != dst
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT a AS id, a AS lbl FROM ue
),
deg AS MATERIALIZED (SELECT a AS id, COUNT(*) AS k FROM ue GROUP BY a),
m2 AS MATERIALIZED (SELECT COUNT(*) AS two_m FROM ue),
{halves_sql},
t AS MATERIALIZED (
  {pair_rows_sql}
),
w AS (
  SELECT pair, n_moved_even, n_moved_odd, q_num, ncomm,
    q_num - LAG(q_num) OVER (ORDER BY pair) AS dq
  FROM t
),
s AS (SELECT MIN(CASE WHEN dq <= 0 THEN pair END) AS stop_pair FROM w),
b AS (
  SELECT
    MAX(CASE WHEN w.pair = (SELECT stop_pair FROM s) - 1
             THEN w.ncomm END) AS best_ncomm,
    MAX(CASE WHEN w.pair = (SELECT stop_pair FROM s) - 1
             THEN w.q_num END) AS best_qnum
  FROM w
),
den AS (
  SELECT CAST(NULLIF(two_m * two_m, 0) AS DOUBLE) AS dd FROM m2
)
SELECT CAST(w.pair AS BIGINT) AS pair,
  CAST(w.n_moved_even AS BIGINT) AS n_moved_even,
  CAST(w.n_moved_odd AS BIGINT) AS n_moved_odd,
  CAST(w.q_num AS BIGINT) AS q_num,
  CAST(w.q_num AS DOUBLE) / (SELECT dd FROM den) AS q,
  CAST(w.dq AS BIGINT) AS dq_num,
  w.dq > 0 AS improved,
  w.pair = (SELECT stop_pair FROM s) AS is_stop,
  CAST((SELECT stop_pair FROM s) AS BIGINT) AS stop_pair,
  CAST((SELECT best_ncomm FROM b) AS BIGINT) AS best_ncomm,
  CAST((SELECT best_qnum FROM b) AS DOUBLE) / (SELECT dd FROM den)
    AS best_q
FROM w
"""


def _lvc_fold_sql(pairs: int) -> str:
    """ALL Louvain move pairs as ONE JVM expression: fold
    ``sequence(1, pairs)`` over the collected nation-graph edge array,
    each step applying the two semi-synchronous greedy half-steps and
    emitting the pair's (move counts, exact q_num, ncomm) row.

    Exactly the `_louvain_half` / `_qnum` arithmetic (neighbor-
    community censuses, ΔQ·(2m)² integer gains, ties to the smallest
    community, strict-positive move rule, representative-counted
    communities) — but the nation graph is SCHEMA-bounded (≤ 25 nodes,
    ≤ 650 directed edges), so after the one data-scale edge-derivation
    pass the whole loop is scalar work: the r13 per-round frame shape
    paid 2 eager label checkpoints per pair plus a 5-way union whose
    branches re-ran the lazy move/Q audits (306 jobs / 642 stages
    measured by tools/jobstat_probe.py).  Optimization guide §1.2 /
    §2.4: remove the barriers outright when the state is bounded.

    Generated-SQL hygiene (the CLAUDE.md comprehension-shadowing
    gotcha, Spark-lambda edition): every nested lambda uses a UNIQUE
    variable name (lmn/dmn/ne/kc0/kc2/cf/cc/qs/qm/...) — an inner
    ``m`` shadowing an outer fold's ``m`` silently turns the
    per-community degree sum into the global degree sum (hit while
    prototyping; the parity sweep caught it)."""
    one = "CAST(1 AS BIGINT)"
    zero = "CAST(0 AS BIGINT)"
    lookup = lambda ns, vid: (  # noqa: E731 — label of node `vid`
        f"aggregate(filter({ns}, lmn -> lmn.id = {vid}),"
        f" CAST(NULL AS BIGINT), (lr, lmn) -> lmn.lbl)"
    )
    d_of = lambda ns, c: (  # noqa: E731 — Σtot degree of community c
        f"aggregate({ns}, {zero},"
        f" (ds, dmn) -> ds + CASE WHEN dmn.lbl = ({c}) THEN dmn.k"
        f" ELSE {zero} END)"
    )

    def half(ns: str, p: int) -> str:
        nbrs = (
            f"transform(filter(eg, ne -> ne.a = n.id),"
            f" ne -> {lookup(ns, 'ne.b')})"
        )
        kicur = f"size(filter({nbrs}, kc0 -> kc0 = n.lbl))"
        cand = f"""transform(filter({nbrs}, cf -> cf != n.lbl), cc -> struct(
            2 * CAST(size(eg) AS BIGINT) * CAST(size(filter({nbrs}, kc2 -> kc2 = cc)) - {kicur} AS BIGINT)
            - 2 * n.k * ({d_of(ns, 'cc')} - {d_of(ns, 'n.lbl')} + n.k) AS g,
            cc AS c))"""
        best = f"""aggregate({cand},
            CAST(NULL AS struct<g: bigint, c: bigint>),
            (bst, t) -> CASE WHEN bst IS NULL OR t.g > bst.g
                              OR (t.g = bst.g AND t.c < bst.c)
                        THEN t ELSE bst END)"""
        newlbl = (
            f"CASE WHEN ({best}).g > 0 THEN ({best}).c ELSE n.lbl END"
        )
        ns2x = f"""transform({ns}, n -> CASE WHEN n.id % 2 = {p}
            THEN struct(n.id AS id, {newlbl} AS lbl, n.k AS k, n.lbl AS old)
            ELSE struct(n.id AS id, n.lbl AS lbl, n.k AS k, n.lbl AS old) END)"""
        # aggregate(array(x), ...) is the let-binding idiom: evaluate
        # the post-move node array once, derive (labels, move count)
        return f"""aggregate(array({ns2x}),
            CAST(NULL AS struct<ns: array<struct<id: bigint, lbl: bigint, k: bigint>>, nmv: bigint>),
            (zz, t) -> struct(
              transform(t, x -> struct(x.id AS id, x.lbl AS lbl, x.k AS k)) AS ns,
              CAST(size(filter(t, x -> x.lbl != x.old)) AS BIGINT) AS nmv))"""

    def qnum(ns: str) -> tuple[str, str, str]:
        intra2 = (
            f"aggregate(eg, {zero}, (qs, qe) -> qs +"
            f" CASE WHEN {lookup(ns, 'qe.a')} = {lookup(ns, 'qe.b')}"
            f" THEN {one} ELSE {zero} END)"
        )
        rep = "size(filter({ns}, m2 -> m2.lbl = qm.lbl AND m2.id < qm.id)) = 0"
        sum_d2 = f"""CASE WHEN size({ns}) = 0 THEN CAST(NULL AS BIGINT)
            ELSE aggregate({ns}, {zero}, (qs, qm) -> qs +
              CASE WHEN {rep.format(ns=ns)}
              THEN ({d_of(ns, 'qm.lbl')}) * ({d_of(ns, 'qm.lbl')})
              ELSE {zero} END) END"""
        ncomm = f"""aggregate({ns}, {zero}, (qs, qm) -> qs +
            CASE WHEN {rep.format(ns=ns)} THEN {one} ELSE {zero} END)"""
        return intra2, sum_d2, ncomm

    i0, sd0, nc0 = qnum("ns0")
    i1, sd1, nc1 = qnum("h1.ns")
    emit_row = lambda pair, nme, nmo, intra2, sum_d2, ncomm: f"""struct(
        CAST({pair} AS BIGINT) AS pair,
        {nme} AS n_moved_even,
        {nmo} AS n_moved_odd,
        ({intra2}) * CAST(size(eg) AS BIGINT) - ({sum_d2}) AS q_num,
        {ncomm} AS ncomm,
        CAST(size(eg) AS BIGINT) AS two_m)"""  # noqa: E731
    rows_t = (
        "array<struct<pair: bigint, n_moved_even: bigint,"
        " n_moved_odd: bigint, q_num: bigint, ncomm: bigint,"
        " two_m: bigint>>"
    )
    ns0 = f"""transform(array_distinct(transform(eg, e -> e.a)),
        v -> struct(CAST(v AS BIGINT) AS id, CAST(v AS BIGINT) AS lbl,
                    CAST(size(filter(eg, e -> e.a = v)) AS BIGINT) AS k))"""
    nullb = "CAST(NULL AS BIGINT)"
    return f"""aggregate(
  array({ns0}),
  CAST(NULL AS {rows_t}),
  (z, ns0) -> aggregate(
    sequence(1, {pairs}),
    struct(ns0 AS ns,
           array({emit_row(0, nullb, nullb, i0, sd0, nc0)}) AS out),
    (acc, kk) -> aggregate(
      array({half('acc.ns', 0)}),
      acc,
      (a0, h0) -> aggregate(
        array({half('h0.ns', 1)}),
        a0,
        (a1, h1) -> struct(
          h1.ns AS ns,
          array_append(a1.out, {emit_row('kk', 'h0.nmv', 'h1.nmv', i1, sd1, nc1)}) AS out))),
    acc -> acc.out),
  z -> z)"""


def _lvc_pair_rows(edges: DataFrame) -> DataFrame:
    """One row per move pair from the collected ``_lvc_fold_sql`` fold
    over the (a, b) edge frame, which runs in one task and so raises past
    ``_LV_FOLD_MAX_EDGES`` edges.  The trade graph's distinct directed
    non-loop edges number at most 25·24 = 600, under that ceiling."""
    one = edges.agg(
        F.collect_list(
            F.struct(
                F.col("a").cast("bigint").alias("a"),
                F.col("b").cast("bigint").alias("b"),
            )
        ).alias("eg")
    )
    return one.select(
        F.explode(
            _lv_fold_guarded(
                F.expr(_lvc_fold_sql(_LVC_PAIRS)), "_lvc_pair_rows"
            )
        ).alias("r")
    ).select("r.*")


@query("trade_louvain_converged_level", oracle=_lvc_oracle())
def q_trade_louvain_converged_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Louvain phase-1 TERMINATION loop — the full level-1 algorithm
    (trade_louvain_move is one parity pair; the multi-level row runs
    one pair per level): greedy move pairs iterate until the first
    NON-IMPROVING pair in exact-integer modularity, with the stop
    condition on Q — NOT on zero moves — because the probe
    (72ef586:tools/louvain_probe.py) showed semi-synchronous parity moves can
    OSCILLATE forever at constant Q (sf0.001: a 3-node cycle flips
    3/0 moves every pair with q_num pinned at 5476 — the classic
    synchronous label cycle, which a moves-based loop never exits).
    Q-based termination is sound: q_num is an exact integer, each
    pair's ΔQ is computed identically in both engines, and MM-style
    monotone climb holds until the cycle sets in — the first
    dq <= 0 pair is the deterministic fixpoint, with the BEST
    labeling the pair before it.

    Emits one row per pair (0 = singleton seed): move counts, exact
    q_num, ΔQ, improved/is_stop booleans, plus the stop pair and the
    best labeling's community count and modularity as repeated
    scalars — the empty-moves/fixed-point receipt VERDICT-r12 item 7
    asked for, with the oscillation case documented instead of hidden.

    Scale shape: the data-scale work is the one `_trade_edges`
    derivation pass; the nation graph itself is SCHEMA-bounded
    (≤ 25 nodes), so every half-step, move census, and exact-Q audit
    runs inside a single sequence-fold JVM expression over the
    collected edge array (`_lvc_fold_sql`) — ONE job for the whole
    loop (r14 optimization: the per-round frame shape measured 306
    jobs / 642 stages of scheduling).  At 100 TB the unroll bound is
    the lever (production Louvain caps phase-1 sweeps — Blondel et
    al. report a handful suffice; the convergence pin sizes the cap
    per dataset); a data-scale community graph would use the checkpointed
    `_louvain_half` frame loop instead (trade_louvain_move keeps that
    plan pinned)."""
    from pyspark.sql import Window

    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = (
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e0.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    rows = _lvc_pair_rows(ue)
    w_p = Window.orderBy("pair")
    w = rows.select(
        "pair",
        "n_moved_even",
        "n_moved_odd",
        "q_num",
        "ncomm",
        "two_m",
        (F.col("q_num") - F.lag("q_num").over(w_p)).alias("dq"),
    ).localCheckpoint(eager=True)
    s = w.agg(
        F.min(F.when(F.col("dq") <= 0, F.col("pair"))).alias("stop_pair")
    )
    b = w.crossJoin(F.broadcast(s)).agg(
        F.max(
            F.when(
                F.col("pair") == F.col("stop_pair") - 1, F.col("ncomm")
            )
        ).alias("best_ncomm"),
        F.max(
            F.when(
                F.col("pair") == F.col("stop_pair") - 1, F.col("q_num")
            )
        ).alias("best_qnum"),
    )
    den = F.nullif(
        (F.col("two_m") * F.col("two_m")).cast("double"), F.lit(0.0)
    )
    return (
        w.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(b))
        .select(
            F.col("pair").cast("bigint").alias("pair"),
            F.col("n_moved_even").cast("bigint").alias("n_moved_even"),
            F.col("n_moved_odd").cast("bigint").alias("n_moved_odd"),
            F.col("q_num").cast("bigint").alias("q_num"),
            (F.col("q_num").cast("double") / den).alias("q"),
            F.col("dq").cast("bigint").alias("dq_num"),
            (F.col("dq") > 0).alias("improved"),
            (F.col("pair") == F.col("stop_pair")).alias("is_stop"),
            F.col("stop_pair").cast("bigint").alias("stop_pair"),
            F.col("best_ncomm").cast("bigint").alias("best_ncomm"),
            (F.col("best_qnum").cast("double") / den).alias("best_q"),
        )
    )


# ---------------------------------------------------------------------------
# k-hop-bounded Brandes betweenness — sampled-source shortest-path
# centrality with quantized dependency accumulation
# ---------------------------------------------------------------------------

_BW_LEVELS = 3  # BFS depth bound (k-bounded Brandes variant)
_BW_SOURCES = 5  # md5-sampled pivot sources
_BW_TOPK_EDGES = 3  # strongest trade partners kept per nation


def _bw_levels_sql() -> str:
    """Unrolled BFS-with-path-counts + backward quantized-dependency
    CTEs (levels 1..{L}, then deltas {L}..1)."""
    parts = []
    for lv in range(1, _BW_LEVELS + 1):
        prev_vis = "b0" if lv == 1 else f"vis{lv - 1}"
        parts.append(f""",
n{lv} AS MATERIALIZED (
  SELECT f.s, u.b AS v, CAST(SUM(f.sigma) AS BIGINT) AS sigma
  FROM {'b0' if lv == 1 else f'n{lv - 1}'} f
  JOIN ue u ON u.a = f.v
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev_vis} p WHERE p.s = f.s AND p.v = u.b)
  GROUP BY 1, 2
),
vis{lv} AS MATERIALIZED (
  SELECT s, v, sigma FROM {prev_vis} UNION ALL SELECT s, v, sigma FROM n{lv}
)""")
    parts.append(f""",
d{_BW_LEVELS} AS (
  SELECT s, v, CAST(0 AS BIGINT) AS qd FROM n{_BW_LEVELS}
)""")
    for lv in range(_BW_LEVELS - 1, 0, -1):
        parts.append(f""",
d{lv} AS MATERIALIZED (
  SELECT f.s, f.v,
    CAST(COALESCE(SUM((f.sigma * (1000000000 + dn.qd)) // nx.sigma), 0)
         AS BIGINT) AS qd
  FROM n{lv} f
  LEFT JOIN ue u ON u.a = f.v
  LEFT JOIN n{lv + 1} nx ON nx.s = f.s AND nx.v = u.b
  LEFT JOIN d{lv + 1} dn ON dn.s = f.s AND dn.v = u.b
  WHERE nx.v IS NULL OR dn.v IS NOT NULL
  GROUP BY 1, 2
)""")
    return "".join(parts)


_BW_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    AND s.s_nationkey != c.c_nationkey
  GROUP BY 1, 2
),
top3 AS (
  SELECT src, dst FROM (
    SELECT src, dst,
      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst) AS rn
    FROM w) WHERE rn <= {_BW_TOPK_EDGES}
),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM top3 UNION SELECT dst, src FROM top3
),
ids AS (SELECT DISTINCT a AS id FROM ue),
srcs AS (
  SELECT id AS s FROM (
    SELECT id, row_number() OVER (ORDER BY
      {_SHINGLE_INT_SQL_REF.format(x="'bw:' || CAST(id AS VARCHAR)")},
      id) AS r
    FROM ids) WHERE r <= {_BW_SOURCES}
),
b0 AS MATERIALIZED (
  SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM srcs
){_bw_levels_sql()},
alld AS (
  {' UNION ALL '.join(f'SELECT s, v, qd FROM d{lv}' for lv in range(1, _BW_LEVELS + 1))}
),
reach AS (
  SELECT v, COUNT(*) AS n_sources, CAST(SUM(sigma) AS BIGINT) AS sigma_total
  FROM (SELECT s, v, sigma FROM vis{_BW_LEVELS} WHERE v != s)
  GROUP BY v
)
SELECT CAST(r.v AS BIGINT) AS node,
  CAST(r.n_sources AS BIGINT) AS n_sources,
  r.sigma_total,
  CAST(COALESCE(d.qbc, 0) AS BIGINT) AS qbc,
  CAST(COALESCE(d.qbc, 0) AS DOUBLE) / 1000000000.0 AS betweenness
FROM reach r
LEFT JOIN (SELECT v, CAST(SUM(qd) AS BIGINT) AS qbc FROM alld GROUP BY v) d
  ON d.v = r.v
"""


@query("trade_betweenness_khop", oracle=_BW_ORACLE)
def q_trade_betweenness_khop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-HOP-BOUNDED BRANDES betweenness from SAMPLED sources — the
    shortest-path centrality member of the graph family (Brandes
    2001; the k-bounded + pivot-sampling variants are the standard
    big-graph deployments): on the strongest-partner trade graph
    (top-{_BW_TOPK_EDGES} outgoing edges per nation by trade count —
    a deterministic sparsifier that keeps the graph navigable at
    every SF, where the raw quarter graph saturates complete),
    {_BW_SOURCES} md5-sampled pivot sources run BFS with PATH COUNTS
    (σ accumulates along the shortest-path DAG, level by level,
    {_BW_LEVELS} levels), then dependencies accumulate BACKWARD:
    δ(v) = Σ_w∈succ(v) σ_v/σ_w · (1 + δ(w)), held as 1e-9-grain
    integers with the division done as (σ_v·(1e9 + qδ_w)) div σ_w —
    a deterministic integer walk both engines reproduce bit-for-bit
    (the documented quantization of Brandes' rational deltas; error
    ≤ 1e-9 per path, stated in-line, receipt-checked not assumed).
    Betweenness(v) = Σ_sources qδ(v), directed-pair convention (no
    halving), v≠s.

    Scale shape: the BFS is per-level equi-joins keyed on the node id
    with NOT-EXISTS visited pruning (frontier-sized state, never
    node²); the backward pass is one join per level against the
    next level's (σ, qδ) state; source sampling bounds total work at
    S·edges per level — the exact recipe big-graph engines
    (GraphFrames AggregateMessages, Pregel) run betweenness with.
    The full-exact variant is the same loop with srcs = ids."""
    from pyspark.sql import Window

    e0 = _trade_edges_weighted(spark, sf_dir)
    w_top = Window.partitionBy("src").orderBy(
        F.col("cnt").desc(), "dst"
    )
    top3 = (
        e0.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _BW_TOPK_EDGES)
        .select("src", "dst")
    )
    ue = (
        top3.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(
            top3.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    from .dedup import _shingle_int

    ids = ue.select(F.col("a").alias("id")).distinct()
    # checkpoint the WIDE window output; the rank filter and b0
    # projection stay lazy (narrow projections of window-filtered
    # frames over checkpointed lineage hit the localCheckpoint
    # constraint-rewrite bug — CLAUDE.md gotcha)
    rk_bw = ids.select(
        "id",
        F.row_number()
        .over(
            Window.orderBy(
                _shingle_int(
                    F.concat(F.lit("bw:"), F.col("id").cast("string"))
                ),
                "id",
            )
        )
        .alias("r"),
    ).localCheckpoint(eager=True)
    srcs = rk_bw.filter(F.col("r") <= _BW_SOURCES).select(
        F.col("id").alias("s")
    )
    b0 = srcs.select(
        "s", F.col("s").alias("v"), F.lit(1).cast("bigint").alias("sigma")
    )
    levels = [b0]
    vis = b0
    for _lv in range(1, _BW_LEVELS + 1):
        f = levels[-1]
        n = (
            f.alias("f")
            .join(ue.alias("u"), F.col("u.a") == F.col("f.v"))
            .join(
                vis.alias("p"),
                (F.col("p.s") == F.col("f.s"))
                & (F.col("p.v") == F.col("u.b")),
                "left_anti",
            )
            .groupBy(F.col("f.s").alias("s"), F.col("u.b").alias("v"))
            .agg(F.sum("f.sigma").cast("bigint").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        levels.append(n)
        vis = vis.unionByName(n)
    deltas = [
        levels[_BW_LEVELS].select(
            "s", "v", F.lit(0).cast("bigint").alias("qd")
        )
    ]
    for lv in range(_BW_LEVELS - 1, 0, -1):
        nxt = levels[lv + 1].alias("nx")
        dn = deltas[-1].alias("dn")
        succ = (
            levels[lv]
            .alias("f")
            .join(ue.alias("u"), F.col("u.a") == F.col("f.v"))
            .join(
                nxt,
                (F.col("nx.s") == F.col("f.s"))
                & (F.col("nx.v") == F.col("u.b")),
            )
            .join(
                dn,
                (F.col("dn.s") == F.col("f.s"))
                & (F.col("dn.v") == F.col("u.b")),
            )
            .groupBy(F.col("f.s").alias("s"), F.col("f.v").alias("v"))
            .agg(
                F.sum(
                    F.expr(
                        "(f.sigma * (1000000000 + dn.qd)) div nx.sigma"
                    )
                )
                .cast("bigint")
                .alias("qd")
            )
            # checkpoint the WIDE agg output; the trailing left-join
            # projection stays lazy (the localCheckpoint-on-narrow-
            # projection gotcha in CLAUDE.md)
            .localCheckpoint(eager=True)
        )
        d = (
            levels[lv]
            .alias("f")
            .join(
                succ.alias("sc"),
                (F.col("sc.s") == F.col("f.s"))
                & (F.col("sc.v") == F.col("f.v")),
                "left",
            )
            .select(
                F.col("f.s").alias("s"),
                F.col("f.v").alias("v"),
                F.coalesce(F.col("sc.qd"), F.lit(0))
                .cast("bigint")
                .alias("qd"),
            )
        )
        deltas.append(d)
    alld = deltas[0]
    for d in deltas[1:]:
        alld = alld.unionByName(d)
    qbc = alld.groupBy("v").agg(F.sum("qd").cast("bigint").alias("qbc"))
    reach = (
        vis.filter(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(
            F.count("*").alias("n_sources"),
            F.sum("sigma").cast("bigint").alias("sigma_total"),
        )
    )
    return reach.join(qbc, "v", "left").select(
        F.col("v").cast("bigint").alias("node"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        "sigma_total",
        F.coalesce(F.col("qbc"), F.lit(0)).cast("bigint").alias("qbc"),
        (
            F.coalesce(F.col("qbc"), F.lit(0)).cast("double")
            / F.lit(1e9)
        ).alias("betweenness"),
    )


def _trade_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation→nation trade-pair COUNTS for Q1-1995 (the
    weighted form of _trade_edges, self-loops excluded)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1995-03-31")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Luby's maximal-independent-set rounds — THE classic parallel-graph
# symmetry-breaking primitive (Luby 1986)
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 3


def _mis_round_sql(r: int) -> str:
    """One Luby round: active nodes draw md5 priorities (round-salted);
    a node joins the MIS iff it beats every ACTIVE neighbor on
    (priority, id); winners and their neighbors leave the active set."""
    pr = _SHINGLE_INT_SQL_REF.format(
        x=f"'mis:{r}:' || CAST(id AS VARCHAR)"
    )
    return f"""pr{r} AS MATERIALIZED (
  SELECT id, {pr} AS p FROM a{r - 1}
),
m{r} AS MATERIALIZED (
  SELECT a.id FROM pr{r} a
  WHERE NOT EXISTS (
    SELECT 1 FROM ue e JOIN pr{r} b ON b.id = e.b
    WHERE e.a = a.id
      AND (b.p < a.p OR (b.p = a.p AND b.id < a.id)))
),
a{r} AS MATERIALIZED (
  SELECT s.id FROM a{r - 1} s
  WHERE s.id NOT IN (SELECT id FROM m{r})
    AND NOT EXISTS (
      SELECT 1 FROM ue e JOIN m{r} m ON m.id = e.a
      WHERE e.b = s.id)
)"""


_MIS_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
    AND s.s_nationkey != c.c_nationkey
  GROUP BY 1, 2
),
top3 AS (
  SELECT src, dst FROM (
    SELECT src, dst,
      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst) AS rn
    FROM w) WHERE rn <= {_BW_TOPK_EDGES}
),
ue AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM top3 UNION SELECT dst, src FROM top3
),
a0 AS MATERIALIZED (SELECT DISTINCT a AS id FROM ue),
{','.join(_mis_round_sql(r) for r in range(1, _MIS_ROUNDS + 1))},
mis AS (
  {' UNION ALL '.join(f'SELECT id, {r} AS round_joined FROM m{r}' for r in range(1, _MIS_ROUNDS + 1))}
),
indep AS (
  SELECT NOT EXISTS (
    SELECT 1 FROM ue e
    JOIN mis x ON x.id = e.a JOIN mis y ON y.id = e.b) AS ok
),
scal AS (
  SELECT
    (SELECT COUNT(*) FROM a0) AS n_nodes,
    (SELECT COUNT(*) FROM mis) AS n_mis,
    (SELECT COUNT(*) FROM a{_MIS_ROUNDS}) AS n_remaining,
    (SELECT ok FROM indep) AS independent
)
SELECT CAST(m.id AS BIGINT) AS node,
  CAST(m.round_joined AS BIGINT) AS round_joined,
  CAST(s.n_nodes AS BIGINT) AS n_nodes,
  CAST(s.n_mis AS BIGINT) AS n_mis,
  CAST(s.n_remaining AS BIGINT) AS n_remaining,
  s.independent
FROM mis m, scal s
"""


@query("trade_luby_mis", oracle=_MIS_ORACLE)
def q_trade_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUBY's parallel MAXIMAL-INDEPENDENT-SET rounds (Luby 1986) —
    the classic symmetry-breaking primitive under parallel coloring,
    scheduling, and clustering: each round every ACTIVE node draws a
    round-salted md5 priority (content-keyed, no RNG — the
    deterministic stand-in for Luby's coin flips); a node joins the
    MIS iff it beats every active neighbor on (priority, id); winners
    and their neighborhoods retire.  {_MIS_ROUNDS} rounds on the
    top-{_BW_TOPK_EDGES}-partner trade graph retire the expected
    constant fraction of edges per round (Luby's lemma).

    Receipts: `independent` — no edge joins two MIS members — is
    COMPUTED on both engines (an incorrect winner rule breaks it, and
    the value hash with it); n_remaining counts nodes still
    undecided after the unrolled rounds (empty = the set is already
    maximal; the fixture numbers are pinned in tests/test_plans.py).

    Scale shape: each round is one neighbor-keyed census (min
    (priority, id) over active neighbors — map-side combinable
    struct-MIN), one anti-join pair to retire winners and their
    neighborhoods, and nothing node²; state shrinks geometrically per
    round, which is the entire point of Luby's algorithm at 100 TB."""
    from pyspark.sql import Window
    from .dedup import _shingle_int

    e0 = _trade_edges_weighted(spark, sf_dir)
    w_top = Window.partitionBy("src").orderBy(F.col("cnt").desc(), "dst")
    top3 = (
        e0.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _BW_TOPK_EDGES)
        .select("src", "dst")
    )
    ue = (
        top3.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(
            top3.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    active = ue.select(F.col("a").alias("id")).distinct()
    n_nodes_df = active.agg(F.count("*").alias("n_nodes"))
    mis_parts = []
    for r in range(1, _MIS_ROUNDS + 1):
        pr = active.select(
            "id",
            _shingle_int(
                F.concat(
                    F.lit(f"mis:{r}:"), F.col("id").cast("string")
                )
            ).alias("p"),
        ).localCheckpoint(eager=True)
        nb_best = (
            ue.alias("e")
            .join(pr.alias("b"), F.col("b.id") == F.col("e.b"))
            .groupBy(F.col("e.a").alias("id"))
            .agg(
                F.min(F.struct(F.col("b.p"), F.col("b.id"))).alias(
                    "nbmin"
                )
            )
        )
        winners = (
            pr.join(nb_best, "id", "left")
            .filter(
                F.col("nbmin").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("nbmin"))
            )
            .select("id")
        )
        m = winners.localCheckpoint(eager=True)
        mis_parts.append(
            m.select("id", F.lit(r).alias("round_joined"))
        )
        retired_nbrs = (
            ue.alias("e")
            .join(m.alias("m"), F.col("m.id") == F.col("e.a"))
            .select(F.col("e.b").alias("id"))
            .distinct()
        )
        active = (
            active.join(m, "id", "left_anti")
            .join(retired_nbrs, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
    mis = mis_parts[0]
    for p in mis_parts[1:]:
        mis = mis.unionByName(p)
    mis = mis.localCheckpoint(eager=True)
    indep = (
        ue.alias("e")
        .join(mis.alias("x"), F.col("x.id") == F.col("e.a"))
        .join(mis.alias("y"), F.col("y.id") == F.col("e.b"))
        .agg((F.count("*") == 0).alias("independent"))
    )
    scal = (
        n_nodes_df.crossJoin(
            F.broadcast(mis.agg(F.count("*").alias("n_mis")))
        )
        .crossJoin(
            F.broadcast(active.agg(F.count("*").alias("n_remaining")))
        )
        .crossJoin(F.broadcast(indep))
    )
    return mis.crossJoin(F.broadcast(scal)).select(
        F.col("id").cast("bigint").alias("node"),
        F.col("round_joined").cast("bigint").alias("round_joined"),
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("n_mis").cast("bigint").alias("n_mis"),
        F.col("n_remaining").cast("bigint").alias("n_remaining"),
        "independent",
    )


# ---------------------------------------------------------------------------
# Harmonic closeness centrality + eccentricity — the distance-based
# member of the centrality family (degree/PageRank/HITS/betweenness
# cover flow; closeness covers REACH)
# ---------------------------------------------------------------------------

_CLOSE_ROUNDS = 4  # BFS unroll bound: the quarter trade graph's
# diameter is <= 2 sparse and 1 complete (sf0.1); the probe round
# proves the bound held


def _dist_rounds_sql(rounds: int) -> str:
    out = []
    for t in range(1, rounds + 1):
        out.append(f""",
dist{t} AS MATERIALIZED (
  SELECT s, u, CAST(MIN(d) AS BIGINT) AS d FROM (
    SELECT s, u, d FROM dist{t - 1}
    UNION ALL
    SELECT p.s, e.b AS u, p.d + 1 AS d
    FROM dist{t - 1} p JOIN bedges e ON e.a = p.u
  ) GROUP BY s, u
)""")
    return "".join(out)


_CLOSENESS_ORACLE = f"""
WITH draw AS ({_EDGES_SQL}),
uedges AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM draw WHERE src != dst
),
bedges AS MATERIALIZED (
  SELECT a, b FROM uedges UNION ALL SELECT b, a FROM uedges
),
dist0 AS MATERIALIZED (
  SELECT DISTINCT a AS s, a AS u, CAST(0 AS BIGINT) AS d FROM bedges
){_dist_rounds_sql(_CLOSE_ROUNDS + 1)},
conv AS (
  SELECT (SELECT COUNT(*) FROM dist{_CLOSE_ROUNDS + 1})
           = (SELECT COUNT(*) FROM dist{_CLOSE_ROUNDS})
         AND (SELECT COALESCE(SUM(d), 0) FROM dist{_CLOSE_ROUNDS + 1})
           = (SELECT COALESCE(SUM(d), 0) FROM dist{_CLOSE_ROUNDS})
    AS ok
)
SELECT CAST(s AS BIGINT) AS nation_id,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
  CAST(MAX(d) AS BIGINT) AS eccentricity,
  CAST(SUM(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS BIGINT)
    AS harmonic_q,
  CAST(SUM(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS DOUBLE)
    / 1000000.0 AS harmonic,
  (SELECT ok FROM conv) AS converged
FROM dist{_CLOSE_ROUNDS}
GROUP BY s
"""


@query("trade_closeness_centrality", oracle=_CLOSENESS_ORACLE)
def q_trade_closeness_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HARMONIC closeness centrality + eccentricity per nation over
    the undirected quarter trade graph — the distance-based member of
    the centrality family (degree counts neighbors, PageRank/HITS
    score flow, betweenness scores brokerage; closeness scores REACH:
    how few hops to everyone).  The HARMONIC form Σ 1/d is chosen
    over classic 1/Σd because it is well-defined under disconnection
    (unreachable pairs contribute 0 instead of poisoning the sum) —
    the standard recommendation for real graphs.

    Exactness: all-pairs distances come from {_CLOSE_ROUNDS} unrolled
    min-plus BFS rounds over the node-directory-sized frontier frame
    (the nation graph is dims-bounded: ≤ 25 nodes, so the (s, u)
    distance frame is ≤ 625 rows); 1/d terms are exact integers at
    the 1e-6 grain (1000000 div d); a round-{_CLOSE_ROUNDS + 1}
    STABILITY PROBE rides the output as `converged` (count and
    total-distance equality — monotone relaxation makes that pair a
    sufficient identity check), so a diameter overrun breaks the
    pinned gate instead of silently truncating.

    Scale shape: the edge derivation is the pushdown-bounded quarter
    join every trade query shares; BFS state is (nodes²) of the
    NATION directory, never data-scale — at 100 TB closeness on an
    entity graph this small is a broadcast-side computation; on a
    large graph the same rounds run as the standard frontier
    iteration with each round one shuffle."""
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    ue = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct()
    bedges = ue.unionByName(
        ue.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    dist = (
        bedges.select(F.col("a").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("u"), F.lit(0).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    counts = []
    for _ in range(_CLOSE_ROUNDS + 1):
        nxt = (
            dist.alias("p")
            .join(bedges.alias("e"), F.col("p.u") == F.col("e.a"))
            .select("p.s", F.col("e.b").alias("u"), (F.col("p.d") + 1).alias("d"))
            .unionByName(dist)
            .groupBy("s", "u")
            .agg(F.min("d").cast("bigint").alias("d"))
            .localCheckpoint(eager=True)
        )
        counts.append((dist, nxt))
        dist = nxt
    final, probe = counts[-1][0], counts[-1][1]
    conv = (
        final.agg(
            F.count("*").alias("c1"),
            F.coalesce(F.sum("d"), F.lit(0)).alias("s1"),
        )
        .crossJoin(
            probe.agg(
                F.count("*").alias("c2"),
                F.coalesce(F.sum("d"), F.lit(0)).alias("s2"),
            )
        )
        .select(
            (
                (F.col("c1") == F.col("c2"))
                & (F.col("s1") == F.col("s2"))
            ).alias("ok")
        )
    )
    hq = F.sum(
        F.when(F.col("d") > 0, F.expr("1000000 div d")).otherwise(
            F.lit(0)
        )
    ).cast("bigint")
    return (
        final.groupBy(F.col("s").cast("bigint").alias("nation_id"))
        .agg(
            (F.count("*") - 1).cast("bigint").alias("n_reached"),
            F.max("d").cast("bigint").alias("eccentricity"),
            hq.alias("harmonic_q"),
            (hq.cast("double") / F.lit(1000000.0)).alias("harmonic"),
        )
        .crossJoin(F.broadcast(conv))
        .select(
            "nation_id",
            "n_reached",
            "eccentricity",
            "harmonic_q",
            "harmonic",
            F.col("ok").alias("converged"),
        )
    )
