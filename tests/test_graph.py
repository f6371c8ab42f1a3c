"""Graph family (`plans/graph.py`): every entry pinned by a Python
replay on the real sf0.001 co-purchase graph, plus engineered fixtures
for the edges a replay cannot reach — one-triangle and wedge-free
graphs, k-core cascades at and beyond the unroll depth, a BFS chain
longer than the unroll — and the plan property the SQL-form entries
rely on: the co-purchase edge build is shared by Spark's exchange
reuse, not by a cached relation left in the session.
"""

from __future__ import annotations

import itertools
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from dnstap2clickhouse_spark.plans import graph as pgraph
from dnstap2clickhouse_spark.sources.tables import load_table, register_views

SF = "/root/testdata/sf0.001"


def _corpus_edges(spark):
    """The corpus co-purchase edge set {(a, b)}, a < b."""
    register_views(spark, SF, ("lineitem",))
    return {
        (r.a, r.b)
        for r in spark.sql(f"SELECT * FROM ({pgraph._copurchase_cte()})").collect()
    }


def _edges_to_lineitem(spark, edges):
    """Encode an undirected edge list as a minimal lineitem fixture:
    one order per edge, both endpoints shipped at the qualifying
    quantity, so the co-purchase CTE reproduces exactly ``edges``."""
    rows = []
    for i, (a, b) in enumerate(sorted(edges)):
        rows.append((i, a, float(pgraph.TRIANGLE_MIN_QTY)))
        rows.append((i, b, float(pgraph.TRIANGLE_MIN_QTY)))
    return spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE"
    )


# ------------------------------------------------------------ pagerank


def test_pagerank_mass_and_shape(spark):
    rows = pgraph.pagerank_top(spark, SF).collect()
    assert len(rows) == pgraph.PAGERANK_TOP
    ranks = [r.rank_e12 for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.rank_e12 > 0 for r in rows)
    assert [r.pos for r in rows] == list(range(1, pgraph.PAGERANK_TOP + 1))
    # suppliers are far fewer than customers, so they concentrate rank:
    # the top of the list should be supplier vertices
    assert rows[0].vertex.startswith("s:")


def test_pagerank_mass_conservation(spark):
    """Integer PageRank loses only floor-division dust: after any round,
    total rank is <= R_E12 and within |V| * (teleport dust + damping
    dust + per-edge division dust) of it."""
    register_views(spark, SF, ("orders", "lineitem"))
    full = spark.sql(
        pgraph._pagerank_sql("spark").replace(
            f"WHERE pos <= {pgraph.PAGERANK_TOP}", ""
        )
    )
    total = full.agg(F.sum("rank_e12")).collect()[0][0]
    n_v = full.count()
    # every vertex floors at most ~1 unit in each of: base split, teleport
    # term, damped term, and each of its out-contributions (bounded by
    # total degree = 2 * |edges|; use a generous linear bound in |V|)
    assert total <= pgraph.R_E12
    assert total >= pgraph.R_E12 - 200 * n_v


# ------------------------------------------------------- triangle count


def test_triangle_count_vs_bruteforce(spark):
    """Degree-ordered wedge count equals a plain Python adjacency-set
    count (sum over edges of |adj(a) & adj(b)|, each triangle counted
    three times) on the real corpus graph."""
    row = pgraph.triangle_count(spark, SF).collect()[0]
    li = load_table(spark, SF, "lineitem").selectExpr(
        "l_orderkey AS o", "l_partkey AS p", "l_quantity AS q"
    ).where(f"q >= {pgraph.TRIANGLE_MIN_QTY}").collect()
    by_order: dict[int, set[int]] = {}
    for r in li:
        by_order.setdefault(r.o, set()).add(r.p)
    edges = set()
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            edges.add((a, b))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri3 = sum(len(adj[a] & adj[b]) for a, b in edges)
    assert tri3 % 3 == 0
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)
    assert row.n_triangles == tri3 // 3
    assert row.n_triangles <= row.n_wedges


def test_triangle_count_fixture(spark):
    """One order shipping 3 qualifying parts = exactly one triangle; a
    2-part order adds an edge but no triangle."""
    q = float(pgraph.TRIANGLE_MIN_QTY)
    rows = [
        (1, 101, 1, 1, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (1, 102, 1, 2, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (1, 103, 1, 3, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (2, 104, 1, 1, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (2, 105, 1, 2, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        # below the quantity gate: contributes nothing
        (3, 101, 1, 1, q - 1, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (3, 105, 1, 2, q - 1, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
    ]
    orig = load_table(spark, SF, "lineitem")
    try:
        spark.createDataFrame(
            rows,
            "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
            "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
            "l_returnflag STRING, l_linestatus STRING, l_shipdate STRING",
        ).selectExpr(
            "* EXCEPT (l_shipdate)", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
        ).createOrReplaceTempView("lineitem")
        row = spark.sql(pgraph._triangle_sql("spark")).collect()[0]
    finally:
        orig.createOrReplaceTempView("lineitem")
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 4, 1)


def test_triangle_count_wedge_free_graph_reports_zero(spark):
    """Review regression: a graph of disjoint edges (no wedges) must
    report n_triangles = 0, not NULL (sum over the empty wedge relation
    is NULL; the query uses count(o.src))."""
    q = float(pgraph.TRIANGLE_MIN_QTY)
    rows = [
        (1, 101, 1, 1, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (1, 102, 1, 2, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (2, 103, 1, 1, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
        (2, 104, 1, 2, q, 1.0, 0.0, 0.0, "N", "O", "2024-01-01 00:00:00"),
    ]
    orig = load_table(spark, SF, "lineitem")
    try:
        spark.createDataFrame(
            rows,
            "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
            "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
            "l_returnflag STRING, l_linestatus STRING, l_shipdate STRING",
        ).selectExpr(
            "* EXCEPT (l_shipdate)", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
        ).createOrReplaceTempView("lineitem")
        row = spark.sql(pgraph._triangle_sql("spark")).collect()[0]
    finally:
        orig.createOrReplaceTempView("lineitem")
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (4, 2, 0, 0)


def test_triangle_count_shares_edge_build_by_exchange_reuse(spark):
    """The SQL-form entries run their co-purchase CTE as plain SQL:
    Spark inlines it per reference and its exchange reuse shares the
    edge build. A persisted edge view instead made each reference its
    own AQE cache stage and reused no exchange (slower on every graph
    entry). Pin that the executed plan reuses exchanges and reads no
    cache, that the entry leaves nothing cached in the session, and
    that it equals the Spark text of the DuckDB oracle string."""
    spark.catalog.clearCache()
    tri = pgraph.triangle_count(spark, SF)
    rows = sorted(tuple(r) for r in tri.collect())
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "InMemoryTableScan" not in plan
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    want = sorted(tuple(r) for r in spark.sql(pgraph._triangle_sql("spark")).collect())
    assert rows == want and rows


# ------------------------------------------------ clustering coefficient


def test_clustering_python_replay(spark):
    edges = _corpus_edges(spark)
    adj: dict = defaultdict(set)
    deg: Counter = Counter()
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        deg[a] += 1
        deg[b] += 1
    triangles = sum(
        1 for a, b in edges for c in adj[a] & adj[b] if c > b
    )
    wedges = sum(d * (d - 1) // 2 for d in deg.values())

    [row] = pgraph.clustering_coefficient(spark, SF).collect()
    assert row.n_triangles == triangles
    assert row.n_wedges_total == wedges
    assert row.transitivity_e6 == 3 * triangles * 1_000_000 // wedges
    assert 0 < row.transitivity_e6 < 1_000_000


def test_clustering_matches_triangle_census(spark):
    """The spliced count must equal the standalone census entry."""
    [tri] = pgraph.triangle_count(spark, SF).collect()
    [cl] = pgraph.clustering_coefficient(spark, SF).collect()
    assert cl.n_triangles == tri.n_triangles


# ------------------------------------------------- neighbor similarity


def test_jaccard_neighbors_vs_bruteforce(spark):
    """Top-k pairs equal a Python adjacency-set recomputation (same
    floor, same exact-integer Jaccard, same tiebreak)."""
    got = [
        (r.a, r.b, r.n_common, r.jaccard_e6)
        for r in pgraph.jaccard_neighbors(spark, SF).collect()
    ]
    li = load_table(spark, SF, "lineitem").selectExpr(
        "l_orderkey AS o", "l_partkey AS p", "l_quantity AS q"
    ).where(f"q >= {pgraph.TRIANGLE_MIN_QTY}").collect()
    by_order: dict[int, set[int]] = {}
    for r in li:
        by_order.setdefault(r.o, set()).add(r.p)
    adj: dict[int, set[int]] = {}
    for parts in by_order.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    cand = []
    seen = set()
    for v, nbrs in adj.items():
        for a, b in itertools.combinations(sorted(nbrs), 2):
            if (a, b) in seen:
                continue
            seen.add((a, b))
            common = len(adj[a] & adj[b])
            if common >= pgraph.JN_MIN_COMMON:
                jac = common * 1_000_000 // (len(adj[a]) + len(adj[b]) - common)
                cand.append((jac, a, b, common))
    cand.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(a, b, c, j) for j, a, b, c in cand[: pgraph.JACCARD_NEIGHBORS_TOP]]
    assert got == want


# -------------------------------------------------------------- k-core


def _peel(edges: set[tuple[int, int]], k: int):
    """Reference peeling to fixpoint: returns (members with in-core
    degree, rounds-to-fixpoint). ``edges`` is undirected (a < b)."""
    alive = {v for e in edges for v in e}
    rounds = 0
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        keep = {v for v in alive if deg.get(v, 0) >= k}
        rounds += 1
        if keep == alive:
            return {v: deg[v] for v in alive}, rounds
        alive = keep


def test_kcore_python_replay(spark):
    """Peel the real sf0.001 co-purchase graph to fixpoint in Python;
    the entry's member set, in-core degrees, and converged=True must
    all agree."""
    edges = _corpus_edges(spark)
    core, rounds = _peel(edges, pgraph.KCORE_K)
    assert rounds <= pgraph.KCORE_ROUNDS  # the unroll really covers this corpus

    out = pgraph.kcore(spark, SF).collect()
    assert {r.part: r.core_degree for r in out} == core
    assert all(r.converged for r in out)
    assert all(r.core_degree >= pgraph.KCORE_K for r in out)


CLIQUE = {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_kcore_cascade_fixture(spark):
    """A cascade engineered to need the FULL unroll: leaves peel in
    round 0, then v6, then v5 — the 4-round unroll lands exactly on the
    fixpoint and must certify converged=true with only the clique
    surviving."""
    edges = CLIQUE | {(1, 5), (2, 5), (5, 6), (6, 7), (6, 8)}
    core, rounds = _peel(edges, pgraph.KCORE_K)
    assert set(core) == {1, 2, 3, 4} and rounds == 4

    orig = load_table(spark, SF, "lineitem")
    try:
        _edges_to_lineitem(spark, edges).createOrReplaceTempView("lineitem")
        out = spark.sql(pgraph._kcore_sql("spark")).collect()
        assert {r.part for r in out} == {1, 2, 3, 4}
        assert all(r.core_degree == 3 for r in out)
        assert all(r.converged for r in out)
    finally:
        orig.createOrReplaceTempView("lineitem")


def test_kcore_certificate_honest_on_deep_cascade(spark):
    """A cascade deeper than the unroll covers (the initial degree
    filter plus 4 peel rounds): the fixed rounds have NOT reached the
    fixpoint, and the certificate must say so (converged=false) rather
    than silently presenting the last survivor set — whose degrees are
    still inflated by the not-yet-peeled tail — as the core. The
    oracle computes the same flag, so the hash stays green even on a
    corpus needing more rounds — this pins that honesty."""
    # Simultaneous peeling kills a plain chain in two rounds (every
    # leaf-propped link drops at once), so depth needs BRANCHING: a
    # binary tree hung off clique vertex 1 where each level-i node has
    # two level-(i-1) children + its parent (degree exactly 3) and dies
    # only after its children do. Depth 4 ⇒ the root dies in the very
    # last unrolled round, so the k4-vs-k3 fixpoint check fails.
    edges = set(CLIQUE)
    nid = [100]

    def build(level: int, parent: int) -> None:
        v = nid[0]
        nid[0] += 1
        edges.add((min(parent, v), max(parent, v)))
        if level > 0:
            build(level - 1, v)
            build(level - 1, v)

    build(4, 1)
    core, rounds = _peel(edges, pgraph.KCORE_K)
    assert set(core) == {1, 2, 3, 4} and rounds == 6  # > unroll's 5 evals

    orig = load_table(spark, SF, "lineitem")
    try:
        _edges_to_lineitem(spark, edges).createOrReplaceTempView("lineitem")
        out = spark.sql(pgraph._kcore_sql("spark")).collect()
        assert all(not r.converged for r in out)
        # the survivor set happens to equal the true core here, but
        # vertex 1's degree still counts the unpeeled tree root — the
        # flag is what warns that these numbers aren't final
        assert {r.part for r in out} == {1, 2, 3, 4}
        assert {r.part: r.core_degree for r in out} == {1: 4, 2: 3, 3: 3, 4: 3}
    finally:
        orig.createOrReplaceTempView("lineitem")


# -------------------------------------------------------- BFS distance


def _bfs(edges, seeds, rounds):
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        new = dict(dist)
        for u, d in dist.items():
            for v in adj.get(u, ()):
                if v not in new or d + 1 < new[v]:
                    new[v] = d + 1
        dist = new
    return dist


def test_bfs_python_replay(spark):
    edges = _corpus_edges(spark)
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    seeds = [u for u, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
             [: pgraph.BFS_SEEDS]]
    expect = _bfs(edges, seeds, pgraph.BFS_ROUNDS)
    fix = _bfs(edges, seeds, len(deg))

    out = pgraph.bfs_distance(spark, SF).collect()
    assert {r.u: r.dist for r in out} == expect
    # certificate replay: converged iff one more round changes nothing
    more = _bfs(edges, seeds, pgraph.BFS_ROUNDS + 1)
    conv = len(more) == len(expect) and sum(more.values()) == sum(expect.values())
    assert all(r.converged == conv for r in out)
    if conv:
        assert expect == fix  # certified fixpoint really is the full BFS


def test_bfs_certificate_honest_on_long_chain(spark):
    """A path graph longer than the unroll reaches: rounds 0..3 cover
    only 4 hops from the hub end, so the certificate must be false."""
    chain = {(i, i + 1) for i in range(1, 10)}  # path 1-2-...-10
    orig = load_table(spark, SF, "lineitem")
    try:
        # degree-2 everywhere except the endpoints: seeds = 4 lowest-id
        # degree-2 vertices (2,3,4,5) -> frontier still moving at round 3
        _edges_to_lineitem(spark, chain).createOrReplaceTempView("lineitem")
        out = spark.sql(pgraph._bfs_sql("spark")).collect()
        deg = Counter()
        for a, b in chain:
            deg[a] += 1
            deg[b] += 1
        seeds = [u for u, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))
                 [: pgraph.BFS_SEEDS]]
        expect = _bfs(chain, seeds, pgraph.BFS_ROUNDS)
        full = _bfs(chain, seeds, len(deg))
        assert {r.u: r.dist for r in out} == expect
        assert expect != full  # the unroll genuinely hasn't finished
        assert all(not r.converged for r in out)
    finally:
        orig.createOrReplaceTempView("lineitem")


def test_bfs_df_form_equals_sql(spark):
    """`graph_bfs_distance` was the family's worst inlining case: each
    SQL round references the previous distance table TWICE, so the
    unroll re-expands EXPONENTIALLY (leaf census: 236 static lineitem
    scans at 3 rounds). The DataFrame form persists the edge list and
    each round's distance table — pin bit-equality with the SQL form."""
    register_views(spark, SF, ("lineitem",))
    sql_rows = sorted(
        (r.u, r.dist, r.converged) for r in spark.sql(pgraph._bfs_sql("spark")).collect()
    )
    df_rows = sorted(
        (r.u, r.dist, r.converged) for r in pgraph.bfs_distance(spark, SF).collect()
    )
    assert df_rows == sql_rows and df_rows
    assert all(c for (_, _, c) in df_rows)  # converged on the real corpus


# ---------------------------------------------------------- modularity


def test_modularity_python_replay(spark):
    edges = _corpus_edges(spark)
    brand = {r.p_partkey: r.p_brand
             for r in load_table(spark, SF, "part").collect()}
    m = len(edges)
    m_c: Counter = Counter()
    d_c: Counter = Counter()
    for a, b in edges:
        if brand[a] == brand[b]:
            m_c[brand[a]] += 1
        d_c[brand[a]] += 1
        d_c[brand[b]] += 1

    e6 = 1_000_000
    out = {r.community: r for r in pgraph.modularity(spark, SF).collect()}
    assert set(out) == set(d_c)
    for c in d_c:
        got = out[c]
        assert (got.m_c, got.d_c) == (m_c.get(c, 0), d_c[c])
        frac = (d_c[c] * e6) // (2 * m)
        assert got.q_e12 == (m_c.get(c, 0) * e6 * e6) // m - frac * frac
    # mass identities of the decomposition
    assert sum(r.m_c for r in out.values()) <= m
    assert sum(r.d_c for r in out.values()) == 2 * m
    # random co-purchasing ⇒ Q ~ 0: the entry pins the metric, not a
    # community structure the synthetic corpus doesn't have
    q = sum(r.q_e12 for r in out.values()) / 1e12
    assert abs(q) < 0.05


# ------------------------------------------------------- assortativity


def test_assortativity_python_replay(spark):
    edges = _corpus_edges(spark)
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))

    [row] = pgraph.assortativity(spark, SF).collect()
    assert (row.m, row.sx, row.sxx, row.sxy) == (m, sx, sxx, sxy)
    num, den = m * sxy - sx * sx, m * sxx - sx * sx
    assert (row.num, row.den) == (num, den)
    assert row.r_e6 == int(Decimal(num / den * 1_000_000).quantize(0, ROUND_HALF_UP))
    # the symmetric construction: marginal x and y moments coincide,
    # so the collapsed single-denominator Pearson form is exact
    assert sum(ys) == sx and sum(y * y for y in ys) == sxx
    assert -1_000_000 <= row.r_e6 <= 1_000_000


# ---------------------------------------------------- degree histogram


def test_degree_histogram_python_replay(spark):
    edges = _corpus_edges(spark)
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    bins: dict = {}
    for d in deg.values():
        b = min(d.bit_length() - 1, pgraph.DEG_HIST_MAX_BIN)
        bins.setdefault(b, []).append(d)

    out = {r.log2_bin: r for r in pgraph.degree_histogram(spark, SF).collect()}
    assert set(out) == set(bins)
    for b, ds in bins.items():
        got = out[b]
        assert (got.n_vertices, got.min_deg, got.max_deg, got.degree_mass) == \
            (len(ds), min(ds), max(ds), sum(ds))
    # mass identity: total degree mass is exactly 2|E|
    assert sum(r.degree_mass for r in out.values()) == 2 * len(edges)


# ----------------------------------------------------- link prediction


def test_link_predict_python_replay(spark):
    edges = _corpus_edges(spark)
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores = {}
    for z, nb in adj.items():
        for a in nb:
            for b in nb:
                if a < b:
                    key = (a, b)
                    n, ra = scores.get(key, (0, 0))
                    scores[key] = (n + 1, ra + 1_000_000 // len(adj[z]))
    ranked = sorted(
        ((ra, a, b, n) for (a, b), (n, ra) in scores.items()
         if n >= pgraph.LP_MIN_COMMON and (a, b) not in edges),
        key=lambda t: (-t[0], t[1], t[2]),
    )[: pgraph.LP_TOP]

    out = [(r.ra_e6, r.a, r.b, r.n_common)
           for r in pgraph.link_predict(spark, SF).collect()]
    assert out == ranked
    assert out  # the corpus graph must yield predictions


def test_link_predict_excludes_existing_edges(spark):
    edges = _corpus_edges(spark)
    for r in pgraph.link_predict(spark, SF).collect():
        assert (r.a, r.b) not in edges and (r.b, r.a) not in edges


# --------------------------------------------------- butterfly census


def test_butterfly_python_replay(spark):
    lines = load_table(spark, SF, "lineitem").selectExpr(
        "l_orderkey", "l_partkey", "l_quantity").collect()
    by_order: dict = defaultdict(set)
    for r in lines:
        if r.l_quantity >= pgraph.TRIANGLE_MIN_QTY:
            by_order[r.l_orderkey].add(r.l_partkey)
    pair_w: dict = defaultdict(set)
    for o, parts in by_order.items():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair_w[(a, b)].add(o)
    bf = {p: len(os_) * (len(os_) - 1) // 2 for p, os_ in pair_w.items()}
    total = sum(bf.values())
    expect = sorted(((v, p) for p, v in bf.items() if v > 0),
                    key=lambda t: (-t[0], t[1]))[: pgraph.BUTTERFLY_TOP]
    out = pgraph.butterfly_count(spark, SF).collect()
    got = [(r.butterflies, (r.a, r.b)) for r in out]
    assert got == expect
    assert all(r.total_butterflies == total for r in out)
    for r in out:
        assert r.butterflies == r.n_shared_orders * (r.n_shared_orders - 1) // 2
