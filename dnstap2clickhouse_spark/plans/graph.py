"""Graph analytics on the engine: deterministic integer PageRank.

The graph is the customer↔supplier interaction graph implied by the
TPC-H-ish tables (an edge per distinct (customer, supplier) trading
pair, symmetrized), and the rank iteration runs entirely in scaled
INTEGER arithmetic — contributions are integer divisions of the e12
rank mass, sums are exact — so two engines (and any partial-aggregation
order) produce bit-identical ranks. This is the same determinism
discipline as `functions/dedup.cc_clusters` (iterative label
propagation) and `functions/similarity.kmeans_assign` (Lloyd), applied
to the third classic iterative-analytics family.

Scale shape per iteration: one shuffle of (edge → contribution) rows on
the destination key with map-side partial sums; the vertex-count scalar
decorrelates to a broadcast. Two iterations unroll as CTEs; at 100 TB
you run the same iteration body in a driver loop with the rank table
checkpointed every few rounds (the cc_clusters pattern,
functions/dedup.py). Reference scope: graph ops sit beyond
dnstap2clickhouse's surface (README.md:1); semantics follow the public
PageRank formulation (Brin & Page 1998) with damping 0.85.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

R_E12 = 1_000_000_000_000  # total rank mass, e12-scaled
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
PAGERANK_TOP = 20

def _pagerank_sql(dialect: str) -> str:
    d = "div" if dialect == "spark" else "//"
    teleport = f"(({DAMP_DEN - DAMP_NUM} * ({R_E12} {d} n)) {d} {DAMP_DEN})"

    def iterate(prev: str) -> str:
        """One damped iteration: r'(v) = teleport + 0.85 * Σ r(u)/deg(u)."""
        return f"""
  SELECT e.dst AS vertex,
         (SELECT {teleport} FROM nv)
         + ({DAMP_NUM} * CAST(sum(s.r {d} s.outdeg) AS BIGINT)) {d} {DAMP_DEN} AS r
  FROM edges e JOIN {prev} s ON s.vertex = e.src
  GROUP BY e.dst"""

    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS (
  SELECT concat('c:', CAST(c AS STRING)) AS src, concat('s:', CAST(s AS STRING)) AS dst FROM pairs
  UNION ALL
  SELECT concat('s:', CAST(s AS STRING)), concat('c:', CAST(c AS STRING)) FROM pairs),
deg AS (SELECT src AS vertex, count(*) AS outdeg FROM edges GROUP BY src),
nv AS (SELECT count(*) AS n FROM deg),
r0 AS (
  SELECT vertex, outdeg, (SELECT {R_E12} {d} n FROM nv) AS r FROM deg),
r1 AS ({iterate("r0")}),
r1d AS (SELECT r1.vertex, r1.r, deg.outdeg FROM r1 JOIN deg ON deg.vertex = r1.vertex),
r2 AS ({iterate("r1d")}),
ranked AS (
  SELECT vertex, r AS rank_e12,
         row_number() OVER (ORDER BY r DESC, vertex) AS pos
  FROM r2)
SELECT vertex, rank_e12, CAST(pos AS BIGINT) AS pos
FROM ranked WHERE pos <= {PAGERANK_TOP}
ORDER BY pos
"""

def pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PAGERANK_TOP`` vertices after two damped PageRank rounds.

    DataFrame implementation (not the dialect SQL): Spark inlines a CTE
    per reference, so the pure-SQL form recomputes the distinct-pair
    edge build for `deg` and for BOTH iterations — measured min-of-2 at
    sf0.1 under identical host conditions: 5.7 s SQL form vs 2.6 s
    here. The edge+degree table is built once and PERSISTED (at 100 TB:
    checkpointed to storage — the cc_clusters discipline), each
    iteration is one contribution shuffle on the destination key, and
    the arithmetic is the same exact integer form as the oracle SQL, so
    results are bit-identical.
    The vertex-count scalar is a driver-side count of the degree table
    (one number — the CC fixpoint precedent, not a data collect).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .withColumnRenamed("src", "vertex")
        .persist()
    )
    n = deg.count()  # scalar: vertex count (also materializes deg)
    edges = edges.persist()
    base = R_E12 // n
    teleport = ((DAMP_DEN - DAMP_NUM) * base) // DAMP_DEN

    rank = deg.select("vertex", "outdeg", F.lit(base).cast("bigint").alias("r"))
    for _ in range(2):
        contrib = (
            edges.join(rank, edges.src == rank.vertex)
            .groupBy("dst")
            .agg(F.sum(F.expr("r div outdeg")).alias("mass"))
        )
        rank = contrib.selectExpr(
            "dst AS vertex",
            f"CAST({teleport} + ({DAMP_NUM} * CAST(mass AS BIGINT)) div {DAMP_DEN} AS BIGINT) AS r",
        ).join(deg, "vertex")
    # top-k first (TakeOrderedAndProject — distributed partial top-k, no
    # global sort), THEN the rank-number window over just K rows
    top = (
        rank.select("vertex", F.col("r").alias("rank_e12"))
        .orderBy(F.desc("rank_e12"), "vertex")
        .limit(PAGERANK_TOP)
    )
    w = W.orderBy(F.desc("rank_e12"), "vertex")
    return top.withColumn("pos", F.row_number().over(w).cast("bigint")).orderBy("pos")

def pagerank_top_sql() -> str:
    return _pagerank_sql("duckdb")


# ------------------------------------------------------ triangle count

TRIANGLE_MIN_QTY = 30  # both co-purchased lines must clear this quantity


def _copurchase_cte() -> str:
    """Distinct undirected part co-purchase edges (a < b), one per pair
    of qualifying lines sharing an order — the graph both the triangle
    census and the neighbor-similarity query run on. Dialect-free."""
    return f"""
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_quantity >= {TRIANGLE_MIN_QTY} AND l2.l_quantity >= {TRIANGLE_MIN_QTY}"""


def _copurchase_pairs_df(spark: SparkSession, sf_dir: str):
    """The distinct co-purchase edge list as a DataFrame — ONE
    definition shared by the DataFrame-form graph entries (k-core,
    BFS): columns (a, b), a < b, the exact relation `_copurchase_cte`
    declares. The SQL-form entries inline `_copurchase_cte` and leave
    its repeated references to Spark's exchange reuse."""
    from pyspark.sql import functions as F

    from ..sources.tables import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= TRIANGLE_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    return (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )


def _triangle_sql(dialect: str) -> str:
    """Triangle count over the part co-purchase graph (two parts are
    adjacent when one order ships both with quantity >= TRIANGLE_MIN_QTY),
    using DEGREE-ORDERED edge orientation — the classic O(E^1.5) bound.

    Each undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so every vertex's out-degree is at most
    O(sqrt(E)); wedges are enumerated only at each triangle's minimum
    vertex (x -> y, x -> z with y < z in the same order) and closed by an
    equi-join back into the oriented edge set. Total wedge rows are
    sum(outdeg^2) <= E * sqrt(2E) — the bound that makes triangle
    counting feasible at 100 TB, versus the unoriented join's
    sum(deg^2) which a single celebrity vertex makes quadratic.
    Everything is an equi-join/aggregate: no cross joins, all exact
    integers. Reference scope: beyond dnstap2clickhouse's surface;
    algorithm follows the public wedge-orientation formulation
    (Schank & Wagner 2005 / Suri & Vassilvitskii 2011 MapReduce form).
    """

    def lt(p: str, q: str) -> str:
        """Lexicographic (degree, id) comparison, dialect-portable:
        Spark's parser has no bare row constructor, DuckDB's struct
        ordering matches its row ordering — so both go through an
        explicit two-term expansion (exact integer compares only)."""
        p1, p2 = (s.strip() for s in p.split(","))
        q1, q2 = (s.strip() for s in q.split(","))
        return f"({p1} < {q1} OR ({p1} = {q1} AND {p2} < {q2}))"

    return f"""
WITH copurchase AS ({_copurchase_cte()}),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS v FROM copurchase UNION ALL SELECT b FROM copurchase)
  GROUP BY v),
oriented AS (
  -- src is the (degree, id)-smaller endpoint
  SELECT CASE WHEN {lt("da.d, e.a", "db.d, e.b")} THEN e.a ELSE e.b END AS src,
         CASE WHEN {lt("da.d, e.a", "db.d, e.b")} THEN e.b ELSE e.a END AS dst,
         CASE WHEN {lt("da.d, e.a", "db.d, e.b")} THEN db.d ELSE da.d END AS dst_d
  FROM copurchase e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b),
wedges AS (
  SELECT e1.dst AS y, e2.dst AS z
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src
   AND {lt("e1.dst_d, e1.dst", "e2.dst_d, e2.dst")}),
tri AS (
  -- count(o.src), not sum(CASE...): sum over the empty wedge relation
  -- is NULL, and a wedge-free graph must report 0 triangles
  SELECT count(*) AS n_wedges,
         CAST(count(o.src) AS BIGINT) AS n_triangles
  FROM wedges w LEFT JOIN oriented o ON o.src = w.y AND o.dst = w.z)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM copurchase) AS n_edges,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       n_triangles
FROM tri
"""


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the co-purchase graph (one row)."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_triangle_sql("spark"))


def triangle_count_sql() -> str:
    return _triangle_sql("duckdb")


# ------------------------------------------------- neighbor similarity

JACCARD_NEIGHBORS_TOP = 20
JN_MIN_COMMON = 2  # wedge-count floor before a pair is scored


def _jaccard_neighbors_sql(dialect: str) -> str:
    """Top node pairs by neighborhood Jaccard |N(a) AND N(b)| /
    |N(a) OR N(b)| over the co-purchase graph — the "customers who
    bought X also bought Y" similar-products query.

    Common-neighbor counts come from grouping WEDGES (two edges sharing
    a vertex — one equi-join on the shared endpoint, one aggregate);
    neighborhood sizes are the degree table joined twice; the Jaccard is
    an exact e6 integer rational, so the ranking is bit-identical across
    engines. A minimum-common-neighbors floor prunes the long tail
    before ranking, and the top-k is TakeOrderedAndProject.

    Scale shape: wedge volume is sum(deg^2) — at 100 TB the standard
    guards are a hub-degree cap (drop or sample celebrity vertices,
    which add noise to co-occurrence similarity anyway) or the
    degree-ordered orientation used by `_triangle_sql`; at the corpus
    sizes the oracle certifies the plain wedge group-by is the right
    plan. Reference scope: beyond dnstap2clickhouse's surface; the
    co-occurrence-similarity formulation is the public
    item-collaborative-filtering shape (Sarwar et al. 2001).
    """
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH copurchase AS ({_copurchase_cte()}),
adj AS (
  SELECT a AS v, b AS w FROM copurchase
  UNION ALL
  SELECT b, a FROM copurchase),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
common AS (
  SELECT e1.w AS a, e2.w AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM adj e1 JOIN adj e2 ON e1.v = e2.v AND e1.w < e2.w
  GROUP BY e1.w, e2.w
  HAVING count(*) >= {JN_MIN_COMMON}),
scored AS (
  SELECT c.a, c.b, c.n_common,
         (c.n_common * 1000000) {idiv} (da.d + db.d - c.n_common) AS jaccard_e6
  FROM common c
  JOIN deg da ON da.v = c.a
  JOIN deg db ON db.v = c.b)
SELECT a, b, n_common, jaccard_e6
FROM scored
ORDER BY jaccard_e6 DESC, a, b
LIMIT {JACCARD_NEIGHBORS_TOP}
"""


def jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``JACCARD_NEIGHBORS_TOP`` similar part pairs by neighborhood
    Jaccard (exact e6 integers).

    Unlike ``pagerank_top`` (where CTE re-evaluation forced a persisted
    DataFrame form), the SQL form is fine here: the repeated
    ``copurchase``/``adj`` references dedupe at the physical level
    (ReusedExchange nodes in the executed plan), so the edge build runs
    once. A persisted edge view measured slower for every SQL-form
    graph entry: each cached reference becomes its own AQE query stage
    and no exchange is reused (SCALING.md, "The graph family shares
    one edge build").
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_jaccard_neighbors_sql("spark"))


def jaccard_neighbors_sql() -> str:
    return _jaccard_neighbors_sql("duckdb")


# ------------------------------------------------------------- k-core

KCORE_K = 3  # coreness threshold
KCORE_ROUNDS = 4  # unrolled peel rounds (convergence certified in-query)


def _kcore_sql(dialect: str) -> str:
    """K-core decomposition of the part co-purchase graph by iterative
    peeling: repeatedly drop vertices with degree < k and re-derive the
    induced subgraph. The classic "dense cohort" graph primitive (spam
    rings, engaged-user cores, co-purchase cliques).

    The peel is unrolled ``KCORE_ROUNDS`` times — each round is one
    degree aggregate + one semi-join of the edge list against the
    surviving vertex set, all equi-shuffles on vertex id (the same
    bounded-iteration discipline as `sim_kmeans`'s two Lloyd rounds and
    `graph_pagerank`'s unrolled damping; `dedup_cc_clusters` holds the
    driver-looped flavor with pointer jumping). Because a fixed unroll
    cannot promise a fixpoint on arbitrary data, the entry CERTIFIES
    convergence in-band: ``converged`` compares the last two survivor
    counts — monotone peeling means equal counts == fixpoint — and the
    value is COMPUTED identically by the oracle, not asserted, so the
    hash stays green even on a hypothetical corpus needing more rounds
    (tests pin converged=true on the real corpora, and rounds needed is
    diameter-bounded-ish in practice: 2 on every test scale).

    Output: every k-core member with its in-core degree + the
    convergence certificate. Scale: each round's work is O(E) with
    map-side partials; the vertex sets only shrink.

    DuckDB dialect: every CTE is MATERIALIZED. DuckDB 1.0 inlines CTEs
    per reference, so the unrolled peel re-evaluated the lineitem
    self-join + DISTINCT edge build once per round — the r9 sf1 replica
    sweep's 778 s tail entry; materializing collapses it to ~0.8 s with
    bit-identical output (r9 verdict item 4). The Spark dialect is
    untouched (no MATERIALIZED keyword; the DataFrame form in kcore()
    persists the edges explicitly for the same reason).
    """
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    rounds = [
        f"""
n0 AS {mat}(SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
k0 AS {mat}(SELECT u FROM n0 WHERE deg >= {KCORE_K})"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        rounds.append(
            f"""
e{r} AS {mat}(SELECT s.u, s.v FROM sym s
        JOIN k{p} x ON s.u = x.u JOIN k{p} y ON s.v = y.u),
n{r} AS {mat}(SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e{r} GROUP BY u),
k{r} AS {mat}(SELECT u FROM n{r} WHERE deg >= {KCORE_K})"""
        )
    last, prev = KCORE_ROUNDS, KCORE_ROUNDS - 1
    return f"""
WITH copurchase AS {mat}({_copurchase_cte()}),
sym AS {mat}(SELECT a AS u, b AS v FROM copurchase
        UNION ALL SELECT b AS u, a AS v FROM copurchase),
{",".join(rounds)},
conv AS (SELECT (SELECT count(*) FROM k{last}) = (SELECT count(*) FROM k{prev})
           AS converged)
SELECT n.u AS part, n.deg AS core_degree, c.converged
FROM n{last} n JOIN k{last} k ON n.u = k.u CROSS JOIN conv c
ORDER BY part
"""


def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core members with in-core degree + convergence certificate.

    DataFrame implementation (the `pagerank_top` precedent): Spark
    inlines a CTE per reference and `sym` is referenced once per peel
    round plus the seed degree — the pure-SQL form re-executes the
    lineitem self-join + DISTINCT edge build five times (measured:
    warm min-of-2 at sf0.1, 7.2 s SQL form vs 3.7 s here). The symmetric
    edge list is built once and PERSISTED (at 100 TB: checkpointed —
    the cc_clusters discipline); each peel round is one degree
    aggregate + two semi-joins on the persisted edges, exact integer
    arithmetic identical to the oracle SQL, so results are
    bit-identical (test-pinned against the SQL form). The convergence
    certificate's two survivor counts are driver-side scalars off
    persisted per-round vertex sets (the `pagerank_top` vertex-count
    precedent — two numbers, not a data collect).
    """
    from pyspark.sql import functions as F

    pairs = _copurchase_pairs_df(spark, sf_dir)
    sym = (
        pairs.selectExpr("a AS u", "b AS v")
        .unionAll(pairs.selectExpr("b AS u", "a AS v"))
        .persist()
    )
    deg0 = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    k = deg0.filter(F.col("deg") >= KCORE_K).select("u")
    counts: list[int] = []
    ks = []  # per-round survivor caches, released below
    n_last = None
    for _ in range(KCORE_ROUNDS):
        k = k.persist()
        ks.append(k)
        counts.append(k.count())
        e = sym.join(k, "u").join(
            k.withColumnRenamed("u", "v"), "v"
        )
        n_last = e.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        k = n_last.filter(F.col("deg") >= KCORE_K).select("u")
    k = k.persist()
    ks.append(k)
    counts.append(k.count())
    converged = counts[-1] == counts[-2]
    # release every per-round cache the returned result does not need:
    # it reads sym + the LAST loop round's survivor set (ks[-2], which
    # n_last joins against) — the cd41544 leak discipline
    for df_ in ks[:-2] + ks[-1:]:
        df_.unpersist()
    return (
        n_last.filter(F.col("deg") >= KCORE_K)
        .select(
            F.col("u").alias("part"),
            F.col("deg").alias("core_degree"),
            F.lit(converged).alias("converged"),
        )
        .orderBy("part")
    )


def kcore_sql() -> str:
    return _kcore_sql("duckdb")


# ------------------------------------------------ multi-source BFS

BFS_SEEDS = 4  # hub seeds: top-degree vertices (deterministic id tiebreak)
BFS_ROUNDS = 3  # unrolled frontier expansions => distances 0..BFS_ROUNDS


def _bfs_sql(dialect: str) -> str:
    """Multi-source BFS distance over the part co-purchase graph — the
    frontier-expansion primitive next to the repo's other iterative
    graph shapes (label propagation = `dedup_cc_clusters`, damped walks
    = `graph_pagerank`, peeling = `graph_kcore`): hop distance from the
    ``BFS_SEEDS`` highest-degree hubs to every reachable vertex, the
    "how far is everything from the core catalogue" readout (and the
    building block of closeness/eccentricity analytics).

    ``BFS_ROUNDS`` unrolled relaxations: each round unions the previous
    distance table with every neighbor's distance+1 and takes the
    per-vertex min — one O(E) equi-join + one vertex-keyed aggregate
    per round, the `graph_kcore` bounded-unroll discipline. The seed
    CTE is a plan-visible ``LIMIT BFS_SEEDS`` top-k (broadcast-bounded
    by construction). Because a fixed unroll cannot promise reaching
    the whole component, the entry CERTIFIES convergence in-band:
    ``converged`` compares the last two rounds' (reached count, distance
    mass) — min-propagation makes both monotone, so equality == fixpoint
    — computed identically by both engines, not asserted. Distances are
    exact small integers; unreached vertices carry no row.
    """
    rounds = []
    for r in range(1, BFS_ROUNDS + 1):
        p = r - 1
        rounds.append(f"""
d{r} AS (
  SELECT u, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT u, dist FROM d{p}
    UNION ALL
    SELECT s.v AS u, d.dist + 1 AS dist FROM d{p} d JOIN sym s ON s.u = d.u)
  GROUP BY u)""")
    last, prev = BFS_ROUNDS, BFS_ROUNDS - 1
    chain = ",".join(rounds)
    return f"""
WITH edges AS ({_copurchase_cte()}),
sym AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
seeds AS (SELECT u FROM deg ORDER BY deg DESC, u LIMIT {BFS_SEEDS}),
d0 AS (SELECT u, CAST(0 AS BIGINT) AS dist FROM seeds),{chain},
cert AS (
  SELECT CAST((SELECT count(*) FROM d{last}) = (SELECT count(*) FROM d{prev})
          AND (SELECT sum(dist) FROM d{last}) = (SELECT sum(dist) FROM d{prev})
          AS BOOLEAN) AS converged)
SELECT d.u, d.dist, c.converged
FROM d{last} d CROSS JOIN cert c
ORDER BY d.u
"""


def bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the hub seed set, with convergence certificate.

    DataFrame implementation (the `pagerank_top` / `graph_kcore`
    precedent), and the family's WORST inlining case: each SQL round's
    ``d{r}`` references ``d{r-1}`` TWICE (the union of carry-forward
    and relax), so the unrolled chain re-expands EXPONENTIALLY —
    leaf-exact census measured 236 static lineitem scans at
    BFS_ROUNDS=3, doubling per extra round. Here the symmetric edge
    list is built once and PERSISTED, each relaxation round is one
    edge join + one min-aggregate on the persisted previous distance
    table, and the convergence certificate's two (count, mass) scalars
    are driver-side aggregates of persisted per-round tables (the
    kcore counts precedent). Exact integer arithmetic identical to the
    oracle SQL — bit-identical results, test-pinned against the SQL
    form.
    """
    from pyspark.sql import functions as F

    pairs = _copurchase_pairs_df(spark, sf_dir)
    sym = (
        pairs.selectExpr("a AS u", "b AS v")
        .unionAll(pairs.selectExpr("b AS u", "a AS v"))
        .persist()
    )
    seeds = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .orderBy(F.desc("deg"), "u")
        .limit(BFS_SEEDS)
        .select("u")
    )
    d = seeds.select("u", F.lit(0).cast("bigint").alias("dist")).persist()
    stats = []  # (reached count, distance mass) per round
    stats.append((d.count(), 0))
    superseded = []  # per-round distance caches, released below
    for _ in range(BFS_ROUNDS):
        relax = sym.join(d, "u").select(
            F.col("v").alias("u"), (F.col("dist") + F.lit(1)).cast("bigint").alias("dist")
        )
        superseded.append(d)
        d = (
            d.unionAll(relax)
            .groupBy("u")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .persist()
        )
        row = d.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("mass")
        ).collect()[0]
        stats.append((row.n, row.mass))
    converged = stats[-1] == stats[-2]
    # release superseded per-round caches (the returned result reads
    # only the FINAL distance table; sym stays for its re-materialization)
    for df_ in superseded:
        df_.unpersist()
    return (
        d.select("u", "dist", F.lit(converged).alias("converged")).orderBy("u")
    )


def bfs_distance_sql() -> str:
    return _bfs_sql("duckdb")


# ------------------------------------------------ partition modularity

_MOD_E6 = 1_000_000


def _modularity_sql(dialect: str) -> str:
    """Newman modularity of a vertex partition over the part
    co-purchase graph — the community-quality readout every graph
    clustering is scored by: ``Q = sum_c (m_c/m - (d_c/2m)^2)`` with
    communities = part brands (does co-purchasing stay within brands?).
    Per-community contributions emit as fixed-point integers: the
    intra-edge fraction exact at e12 (``m_c * e12 div m``, BIGINT-safe
    to ~9e6 edges — beyond that, one DECIMAL(38) cast), the degree
    fraction quantized once at e6 and squared — deterministic integer
    arithmetic in both engines, no float division anywhere. Plan: one
    edge-community fetch join (brand rides the part dimension — a
    broadcast at any scale), one community-keyed count each for intra
    edges and degree mass, the 1-row edge total cross-joined back.
    Communities with degree but no intra edges keep a row (m_c = 0).
    """
    div = "div" if dialect == "spark" else "//"
    return f"""
WITH edges AS ({_copurchase_cte()}),
comm AS (SELECT p_partkey AS u, p_brand AS c FROM part),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
labeled AS (
  SELECT ca.c AS ca, cb.c AS cb
  FROM edges e JOIN comm ca ON e.a = ca.u JOIN comm cb ON e.b = cb.u),
intra AS (
  SELECT ca AS c, CAST(count(*) AS BIGINT) AS m_c
  FROM labeled WHERE ca = cb GROUP BY ca),
sym AS (SELECT a AS u FROM edges UNION ALL SELECT b AS u FROM edges),
deg AS (
  SELECT cm.c, CAST(count(*) AS BIGINT) AS d_c
  FROM sym s JOIN comm cm ON s.u = cm.u GROUP BY cm.c)
SELECT d.c AS community, coalesce(i.m_c, 0) AS m_c, d.d_c,
       (coalesce(i.m_c, 0) * {_MOD_E6} * {_MOD_E6}) {div} t.m
         - ((d.d_c * {_MOD_E6}) {div} (2 * t.m))
           * ((d.d_c * {_MOD_E6}) {div} (2 * t.m)) AS q_e12
FROM deg d LEFT JOIN intra i ON d.c = i.c CROSS JOIN mm t
ORDER BY d.c
"""


def modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand modularity contributions over the co-purchase graph."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_modularity_sql("spark"))


def modularity_sql() -> str:
    return _modularity_sql("duckdb")


# ------------------------------------------------ degree assortativity

_ASSORT_E6 = 1_000_000


def _assortativity_sql(dialect: str) -> str:
    """Degree assortativity of the part co-purchase graph (Newman 2002)
    — the mixing-pattern metric next to `graph_modularity`'s community
    quality: do high-degree parts co-purchase with other hubs (r > 0)
    or with the periphery (r < 0)? Over the symmetrized edge list with
    x = deg(src), y = deg(dst), the marginals coincide, so Pearson
    collapses to the PURE INTEGER ratio
    ``r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2)`` — numerator, denominator,
    and every moment emitted as exact BIGINTs (in-range to ~1e6 edges
    at these degree scales; DECIMAL(38) lifts it), with ``r_e6`` the
    deterministic double quotient quantized once. One row out. Plan:
    edge build + one vertex-keyed degree aggregate + one edge-degree
    fetch join + a single global moment aggregate with map-side
    partials.
    """
    return f"""
WITH edges AS ({_copurchase_cte()}),
sym AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
xy AS (
  SELECT du.d AS x, dv.d AS y
  FROM sym s JOIN deg du ON s.u = du.u JOIN deg dv ON s.v = dv.u),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xy)
SELECT m, sx, sxx, sxy,
       m * sxy - sx * sx AS num,
       m * sxx - sx * sx AS den,
       CAST(round(CAST(m * sxy - sx * sx AS DOUBLE)
                  / CAST(m * sxx - sx * sx AS DOUBLE) * {_ASSORT_E6}) AS BIGINT)
         AS r_e6
FROM mo
"""


def assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row degree-assortativity moments and coefficient."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_assortativity_sql("spark"))


def assortativity_sql() -> str:
    return _assortativity_sql("duckdb")


# ------------------------------------------------ degree distribution

DEG_HIST_MAX_BIN = 14  # log2 bins 0..14 (degree >= 2^14 folds into the top)


def _degree_histogram_sql(dialect: str) -> str:
    """Log-binned degree distribution of the part co-purchase graph —
    the first diagnostic run on any production graph (is it power-law?
    where does the celebrity tail start? which bin breaks the wedge
    bound `graph_triangle_count` relies on?): vertices bucket by
    floor(log2(degree)) via a fixed CASE ladder (exact integer compare,
    no log anywhere), each bin reporting vertex count, degree bounds,
    and its total degree mass. The mass column makes the histogram a
    skew AUDIT: bins with few vertices but large mass are the
    celebrity vertices a 100 TB join must salt. Plan: one edge build +
    one vertex-keyed degree aggregate + one ≤15-row bin aggregate.
    """
    arms = " ".join(
        f"WHEN d < {1 << (b + 1)} THEN {b}" for b in range(DEG_HIST_MAX_BIN)
    )
    return f"""
WITH edges AS ({_copurchase_cte()}),
sym AS (SELECT a AS u FROM edges UNION ALL SELECT b AS u FROM edges),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u)
SELECT CAST(CASE {arms} ELSE {DEG_HIST_MAX_BIN} END AS BIGINT) AS log2_bin,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg,
       CAST(sum(d) AS BIGINT) AS degree_mass
FROM deg
GROUP BY 1
ORDER BY 1
"""


def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram with per-bin degree mass."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_degree_histogram_sql("spark"))


def degree_histogram_sql() -> str:
    return _degree_histogram_sql("duckdb")


# ------------------------------------------------ clustering coefficient

_CLUST_E6 = 1_000_000


def _clustering_sql(dialect: str) -> str:
    """Global clustering coefficient (transitivity) of the co-purchase
    graph — `3 * triangles / open wedges`, the "do my customers'
    baskets close into cliques" readout and the third global graph
    metric beside `graph_modularity` (community quality) and
    `graph_assortativity` (mixing). Triangles come from the audited
    degree-ordered census (`_triangle_sql`'s CTEs spliced verbatim —
    the count cannot drift from the standalone entry); the wedge
    denominator is the exact ``sum(d*(d-1)/2)`` over the SAME degree
    relation. The coefficient emits as the exact e6 integer quotient;
    dividend ``3*T*e6`` is BIGINT-safe to ~3e12 triangles.
    """
    base = _triangle_sql(dialect)
    prefix = base[: base.rindex("SELECT (SELECT")].rstrip().rstrip(",") + ","
    div = "div" if dialect == "spark" else "//"
    return f"""{prefix}
wt AS (SELECT CAST(sum(d * (d - 1) {div} 2) AS BIGINT) AS n_open FROM deg)
SELECT t.n_triangles,
       w.n_open AS n_wedges_total,
       CASE WHEN w.n_open = 0 THEN CAST(0 AS BIGINT)
            ELSE (3 * t.n_triangles * {_CLUST_E6}) {div} w.n_open END
         AS transitivity_e6
FROM tri t CROSS JOIN wt w
"""


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row global transitivity from the audited triangle census."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_clustering_sql("spark"))


def clustering_coefficient_sql() -> str:
    return _clustering_sql("duckdb")


# ------------------------------------------------- link prediction

LP_TOP = 20
LP_MIN_COMMON = 2  # common-neighbor floor before a pair is scored


def _link_predict_sql(dialect: str) -> str:
    """Link prediction by the resource-allocation index (Zhou, Lü &
    Zhang 2009): for each NON-adjacent pair, ``RA(a,b) = Σ_{z ∈
    N(a)∩N(b)} 1/deg(z)`` — common neighbors weighted inversely by how
    promiscuous they are, the strongest of the classic local
    similarity indices. "Parts never yet co-purchased but likely to
    be" is the recommender/completion query over the same co-purchase
    graph `graph_jaccard_neighbors` ranks EXISTING similarity on; the
    defining difference is the anti-join — scored pairs must NOT be
    edges, which is what makes it a prediction.

    Determinism: each wedge contributes the exact integer rational
    ``1e6 div deg(z)`` (per-term floor division, summed — both engines
    agree bit-for-bit, the `graph_assortativity` discipline); ties
    break by (a, b). Scale shape: wedge enumeration is the one
    sum(deg²) shuffle (same guard options as the Jaccard entry: hub
    cap or orientation), the degree join is vertex-keyed, the edge
    exclusion is an equi-anti-join, top-k is TakeOrderedAndProject.
    """
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH copurchase AS ({_copurchase_cte()}),
adj AS (
  SELECT a AS v, b AS w FROM copurchase
  UNION ALL
  SELECT b, a FROM copurchase),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY v),
wedge AS (
  SELECT e1.w AS a, e2.w AS b, e1.v AS z
  FROM adj e1 JOIN adj e2 ON e1.v = e2.v AND e1.w < e2.w),
scored AS (
  SELECT w.a, w.b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(1000000 {idiv} d.d) AS BIGINT) AS ra_e6
  FROM wedge w JOIN deg d ON d.v = w.z
  GROUP BY w.a, w.b
  HAVING count(*) >= {LP_MIN_COMMON})
SELECT s.a, s.b, s.n_common, s.ra_e6
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM copurchase e WHERE e.a = s.a AND e.b = s.b)
ORDER BY s.ra_e6 DESC, s.a, s.b
LIMIT {LP_TOP}
"""


def link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top non-adjacent part pairs by resource-allocation index."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_link_predict_sql("spark"))


def link_predict_sql() -> str:
    return _link_predict_sql("duckdb")


# ------------------------------------------------- butterfly counting

BUTTERFLY_TOP = 20


def _butterfly_sql(dialect: str) -> str:
    """Butterfly (2x2 biclique) counting on the BIPARTITE order↔part
    graph — the bipartite analogue of the triangle census
    (`graph_triangle_count` runs on the projected graph; butterflies
    are the motif that exists BEFORE projection, and butterfly density
    is the standard cohesion metric for user-item / order-part
    networks, Sanei-Mehri et al. 2018): for every part pair, the
    number of orders containing both is w, contributing ``C(w, 2)``
    butterflies. Emits the top-``BUTTERFLY_TOP`` pairs by butterfly
    count plus the global total on every row.

    Scale shape: the pair-weight relation is the same sum(deg²) wedge
    shuffle every co-occurrence entry pays (hub-cap/orientation knobs
    apply); C(w,2) is a narrow map; top-k is TakeOrderedAndProject
    and the total is a 1-row broadcast.
    """
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH pairw AS (
  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
         CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS w
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  WHERE l1.l_quantity >= {TRIANGLE_MIN_QTY} AND l2.l_quantity >= {TRIANGLE_MIN_QTY}
  GROUP BY l1.l_partkey, l2.l_partkey),
bf AS (
  SELECT a, b, w, (w * (w - 1)) {idiv} 2 AS butterflies
  FROM pairw),
tot AS (SELECT CAST(sum(butterflies) AS BIGINT) AS total_butterflies FROM bf)
SELECT bf.a, bf.b, bf.w AS n_shared_orders,
       CAST(bf.butterflies AS BIGINT) AS butterflies,
       t.total_butterflies
FROM bf CROSS JOIN tot t
WHERE bf.butterflies > 0
ORDER BY butterflies DESC, bf.a, bf.b
LIMIT {BUTTERFLY_TOP}
"""


def butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by butterfly count + the global census total."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_butterfly_sql("spark"))


def butterfly_count_sql() -> str:
    return _butterfly_sql("duckdb")
