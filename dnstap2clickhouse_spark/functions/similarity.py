"""Similarity search over the ``embeddings`` table (``array<float>``).

Two paths, as a production pipeline would have:

- **Brute-force cosine top-k** — the exact baseline. Dot products run as
  a sequential left fold (``aggregate(zip_with(...))``) entirely
  JVM-side; DuckDB's ``list_dot_product`` folds the same way, so the
  doubles are bit-identical (verified) and the oracle compares exactly.
- **LSH-bucketed ANN** — the scale path: a deterministic sign-bit bucket
  over leading dimensions turns the all-pairs crossJoin into an equi-join
  on the bucket id. At 100 TB the bucket column is also the natural
  partition/bucketing key for the vector table.

Scale notes: the brute-force path broadcasts the (small) query set so the
candidate side never shuffles; top-k per query is a window row_number
bounded by k (partial top-k per partition under AQE). Everything is
column-functional — no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
LSH_TABLES = 4  # hash tables, each over its own dim slice

#: The sign-LSH bucket keyspace is CORPUS-DERIVED (round 5, closing the
#: same class of scale constant as KMEANS_TARGET_OCCUPANCY): each table
#: hashes LSH_MAX_BITS sign bits but the EFFECTIVE bucket id keeps only
#: the low ``nb`` bits, where nb = smallest b in [LSH_MIN_BITS,
#: LSH_MAX_BITS] with corpus_count <= OCCUPANCY * 2^b — an exact-integer
#: CASE over count(*) computed in-plan (``_lsh_bits_cte``), identical in
#: both dialects. Fixed 2^4 buckets meant per-bucket occupancy (and the
#: self-join candidate count, occupancy^2 per bucket) grew linearly with
#: the corpus; the derived width holds occupancy ~constant: 4 bits at
#: every oracle scale (bit-identical to the r1-r4 certified buckets —
#: the low-4 dim layout is preserved), 8 bits at the 10x replica, 16
#: bits (65,536 buckets/table) from ~8M vectors. Beyond LSH_MAX_BITS the
#: knob is more tables or longer embeddings; the in-engine recall
#: entries (`sim_ann_recall`, `dedup_embedding_lsh_recall`) quantify the
#: recall side of any width.
LSH_MIN_BITS = 4
LSH_MAX_BITS = 16
LSH_TARGET_OCCUPANCY = 125


def lsh_bits(n_vectors: int) -> int:
    """Python mirror of the in-SQL effective-width derivation."""
    for b in range(LSH_MIN_BITS, LSH_MAX_BITS):
        if n_vectors <= LSH_TARGET_OCCUPANCY << b:
            return b
    return LSH_MAX_BITS


def lsh_buckets(vec, n_vectors: int) -> list[int]:
    """Python mirror of ``_bucket_expr``: the effective per-table bucket
    ids of one vector in an ``n_vectors`` corpus (tests/tools)."""
    nb = lsh_bits(n_vectors)
    out = []
    for t in range(LSH_TABLES):
        b = 0
        for i in range(nb):  # wide % 2^nb == the low nb bits
            if float(vec[_wide_dim(t, i) - 1]) >= 0:
                b |= 1 << i
        out.append(b)
    return out


def _lsh_bits_cte(dialect: str) -> str:
    """1-row CTE ``lb(nb)``: the effective bucket width for THIS corpus,
    exact integer compares only (no FP, both engines derive the same
    width). CROSS JOIN it wherever bucket columns are projected."""
    arms = "".join(
        f" WHEN count(*) <= {LSH_TARGET_OCCUPANCY << b} THEN {b}"
        for b in range(LSH_MIN_BITS, LSH_MAX_BITS)
    )
    return (
        f"lb AS (SELECT CAST(CASE{arms} ELSE {LSH_MAX_BITS} END AS INT) AS nb"
        " FROM embeddings)"
    )

def _dot(a: str, b: str, dialect: str) -> str:
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"

def _register(spark: SparkSession, sf_dir: str, spread: bool = False) -> None:
    """Register ``embeddings``; optionally pre-spread an under-partitioned
    scan.

    ``spread=False`` (default): register the scan as-is. Most sim queries
    reference the view up to three times (IVF: cell scoring + two
    candidate-side lookups), so a repartition on the view costs one
    full-corpus shuffle *per reference* — measured +40% on sim_ivf_topk
    at sf0.1 — while the scoring work above already parallelizes through
    the join/window shuffles.

    ``spread=True``: for the all-pairs nested-loop queries
    (``embedding_cosine_dups``), whose streamed side inherits the scan's
    partitioning directly — a one-file local corpus would pin the whole
    O(n^2) scoring on one core (measured 41s -> ~2s at sf0.1). At real
    scale the scan has >= slots splits and this is a no-op.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    if spread and emb.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        emb = emb.repartition(spark.sparkContext.defaultParallelism)
    emb.createOrReplaceTempView("embeddings")

def _normed(dialect: str) -> str:
    """(vec_id, label, embedding, nrm): self-dot precomputed ONCE per row.

    Every similarity query pairs each corpus row with several queries; the
    norm inside ``cosine`` is pair-invariant, so computing it below the
    join (a projection the join cannot collapse into) divides the fold
    work per pair by ~3. Both dialects share the structure, keeping the
    doubles bit-identical."""
    return (
        f"SELECT vec_id, label, embedding, "
        f"{_dot('embedding', 'embedding', dialect)} AS nrm FROM embeddings"
    )

def _brute_force_sql(dialect: str) -> str:
    dot = _dot("q.embedding", "c.embedding", dialect)
    # broadcast the tiny query set, NOT the corpus: the non-equi join is
    # a nested loop whose build side must be the small one, or the plan
    # ships the whole corpus to every executor at scale. The LIMIT is a
    # no-op on the rows (vec_id is unique, the filter matches exactly
    # N_QUERIES ids) but puts a GlobalLimit in the broadcast subtree —
    # the physical plan itself then proves the build side is O(1) in
    # corpus size (tools/audit_plans.py checks exactly this).
    hint = f"/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    return f"""
WITH e AS ({_normed(dialect)}),
qs AS (SELECT * FROM e WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
scored AS (
  SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot} / sqrt(q.nrm * c.nrm) AS cosine
  FROM qs q JOIN e c ON q.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for the query vectors."""
    _register(spark, sf_dir)
    return spark.sql(_brute_force_sql("spark"))

def cosine_topk_sql() -> str:
    return _brute_force_sql("duckdb")

def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k with the scoring in a vectorized Pandas
    UDF (Arrow-batched numpy matmul) instead of JVM expression folds —
    the shape a real embedding-model scorer plugs into.

    The query set is collected to a (tiny) numpy matrix broadcast inside
    the UDF closure; the corpus streams through `mapInPandas` one Arrow
    batch at a time, scoring all queries per batch in one matmul —
    O(batch x queries) FLOPs with zero shuffle on the corpus side; only
    the k-selection aggregates.

    numpy's pairwise/SIMD summation differs from the sequential fold in
    the last ulp, so this variant carries no exact oracle — it is pinned
    by a tolerance test against :func:`cosine_topk` (rows-only for the
    driver).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(f"vec_id < {N_QUERIES}").select("vec_id", "embedding").collect()
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c_ids = pdf["vec_id"].to_numpy()
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            cos = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
            n_q, n_c = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_c),
                    "neighbor_id": np.tile(c_ids, n_q),
                    "cosine": cos.ravel(),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cosine double"
    )
    return (
        scored.filter("query_id <> neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "cosine",
            "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank",
        )
        .filter(f"rank <= {TOP_K}")
        .select("query_id", "neighbor_id", "rank", "cosine")
        .orderBy("query_id", "rank")
    )

def _wide_dim(table: int, i: int) -> int:
    """Dim (1-indexed) feeding bit ``i`` of table ``table``.

    Layout contract: bits 0..LSH_MIN_BITS-1 use the ORIGINAL slices
    (table*4 + i + 1, dims 1..16) so a 4-bit effective width reproduces
    the r1-r4 certified buckets bit-for-bit; the widening bits take
    disjoint slices of the remaining dims (17..64) — 4 tables x 16 bits
    covers all KMEANS_DIMS=64 dims with zero overlap."""
    if i < LSH_MIN_BITS:
        return table * LSH_MIN_BITS + i + 1
    return (
        LSH_TABLES * LSH_MIN_BITS
        + table * (LSH_MAX_BITS - LSH_MIN_BITS)
        + (i - LSH_MIN_BITS)
        + 1
    )


def _bucket_expr(col: str, table: int, dialect: str) -> str:
    """EFFECTIVE sign-bit bucket for hash table ``table``: the full
    LSH_MAX_BITS-wide bucket masked to the corpus-derived width —
    ``wide % 2^nb`` keeps the low nb bits (``nb`` from the ``lb`` CTE,
    which every caller CROSS JOINs in)."""
    terms = []
    for i in range(LSH_MAX_BITS):
        dim = _wide_dim(table, i)
        elem = f"element_at({col}, {dim})" if dialect == "spark" else f"{col}[{dim}]"
        terms.append(f"CASE WHEN {elem} >= 0 THEN {1 << i} ELSE 0 END")
    wide = "CAST(" + " + ".join(terms) + " AS BIGINT)"
    if dialect == "spark":
        return f"pmod({wide}, shiftleft(CAST(1 AS BIGINT), nb))"
    return f"({wide}) % (CAST(1 AS BIGINT) << nb)"

def _lsh_sql(dialect: str) -> str:
    """Multi-table sign-LSH: UNION (distinct) of per-table same-bucket
    equi-joins — each branch stays a hash/broadcast equi-join at scale;
    more tables = higher recall at linear candidate cost. Bucket ids and
    norms are per-row columns computed once below the joins."""
    dot = _dot("q.embedding", "c.embedding", dialect)
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    buckets = ", ".join(
        f"{_bucket_expr('embedding', t, dialect)} AS b{t}" for t in range(LSH_TABLES)
    )
    branches = []
    for t in range(LSH_TABLES):
        branches.append(
            f"SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            f"{dot} / sqrt(q.nrm * c.nrm) AS cosine\n"
            f"  FROM qs q JOIN e c\n"
            f"    ON q.vec_id <> c.vec_id AND q.b{t} = c.b{t}"
        )
    union = "\nUNION\n".join(branches)
    # LIMIT on the query CTE: row no-op, plan-visible boundedness (see
    # _brute_force_sql)
    return f"""
WITH {_lsh_bits_cte(dialect)},
e AS (SELECT vec_id, embedding, nrm, {buckets}
      FROM ({_normed(dialect)}) CROSS JOIN lb),
qs AS (SELECT * FROM e WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
scored AS (
{union}),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def _recall_vs_brute_sql(dialect: str, approx_sql: str) -> str:
    """Shared recall@k template: LEFT JOIN an approximate index's top-k
    against the exact brute-force top-k and count hits per query. One
    template serves every index flavor (LSH / IVF / IVF-PQ) so the
    metric definition cannot drift between them."""
    return f"""
WITH brute AS ({_brute_force_sql(dialect).replace("ORDER BY query_id, rank", "")}),
approx AS ({approx_sql.replace("ORDER BY query_id, rank", "")})
SELECT b.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute b LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
"""

def _ann_recall_sql(dialect: str) -> str:
    """recall@k of the LSH ANN against the exact brute-force top-k,
    per query vector — the standard ANN quality metric, computed
    entirely in-engine so index-parameter sweeps (LSH_TABLES / the derived width)
    are a query away. The ground-truth side is the already-linear
    brute-force scan; the join is a tiny (N_QUERIES x k) equi-join."""
    return _recall_vs_brute_sql(dialect, _lsh_sql(dialect))

def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of ``lsh_bucketed_ann`` vs ``cosine_topk``."""
    _register(spark, sf_dir)
    return spark.sql(_ann_recall_sql("spark"))

def ann_recall_sql() -> str:
    return _ann_recall_sql("duckdb")

def pandas_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form of the numpy scorer: recall@k of
    :func:`cosine_topk_pandas` against the exact JVM-fold
    :func:`cosine_topk`, per query.

    The pandas scorer's cosines differ from the fold's in the last ulp
    (numpy SIMD pairwise summation), so its raw output carries no exact
    oracle — but its top-k *membership* equals the exact top-k, which is
    an integer-valued, oracle-checkable claim: every row must read
    ``n_hits = k, recall_at_k = 1.0``. The DuckDB oracle states the same
    identity on its own brute-force top-k (recall of the ground truth
    against itself), so a membership divergence in the numpy path fails
    the hash."""
    exact = cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = cosine_topk_pandas(spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    cond = (F.col("query_id") == F.col("a_query_id")) & (
        F.col("neighbor_id") == F.col("a_neighbor_id")
    )
    return (
        exact.join(approx, cond, "left")
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").alias("n_hits"),
            (F.count("a_neighbor_id").cast("double") / F.lit(TOP_K)).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )

def pandas_recall_sql() -> str:
    brute = _brute_force_sql("duckdb").replace("ORDER BY query_id, rank", "")
    return f"""
WITH brute AS ({brute})
SELECT b.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM brute b LEFT JOIN brute a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
"""

def lsh_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table sign-bit LSH: only same-bucket candidates
    scored; union across tables trades compute for recall."""
    _register(spark, sf_dir)
    return spark.sql(_lsh_sql("spark"))

def lsh_bucketed_ann_sql() -> str:
    return _lsh_sql("duckdb")

def _centroid_sql(dialect: str) -> str:
    """Per-label centroids via scaled-integer sums (order-free, exact)."""
    if dialect == "spark":
        elem = "element_at(embedding, CAST(dim AS INT))"
        series = "explode(sequence(1, size(embedding)))"
    else:
        elem = "embedding[dim]"
        series = "unnest(generate_series(1, len(embedding)))"
    scaled = f"CAST(round(CAST({elem} AS DOUBLE) * 1000000000) AS BIGINT)"
    return f"""
WITH dims AS (SELECT label, embedding, {series} AS dim FROM embeddings),
sums AS (
  SELECT label, CAST(dim AS BIGINT) AS dim,
         CAST(sum({scaled}) AS BIGINT) AS s, count(*) AS n
  FROM dims GROUP BY label, dim)
SELECT CAST(label AS BIGINT) AS label, dim,
       CAST(s AS DOUBLE) / (CAST(1000000000 AS DOUBLE) * n) AS centroid
FROM sums ORDER BY label, dim
"""

COSINE_DUP_THRESHOLD = 0.45

def _cosine_pairs_sql(dialect: str) -> str:
    dot = _dot("a.embedding", "b.embedding", dialect)
    return f"""
WITH e AS ({_normed(dialect)}),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {dot} / sqrt(a.nrm * b.nrm) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cosine FROM p
WHERE cosine >= {COSINE_DUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""

def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector-space flavor of
    dedup). This is the exact all-pairs form — the verifier; at scale the
    candidate set comes from the LSH buckets (``lsh_bucketed_ann``) or
    IVF cells first, and only candidates are scored."""
    _register(spark, sf_dir, spread=True)
    return spark.sql(_cosine_pairs_sql("spark"))

def embedding_cosine_dups_sql() -> str:
    return _cosine_pairs_sql("duckdb")

def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label (the IVF coarse-quantizer
    building block), deterministic via scaled-integer sums."""
    _register(spark, sf_dir)
    return spark.sql(_centroid_sql("spark"))

def label_centroids_sql() -> str:
    return _centroid_sql("duckdb")

IVF_NPROBE = 2

def _ivf_cell_ctes(dialect: str) -> str:
    """Shared CTE fragment for IVF coarse quantization — defines
    ``e`` (normed corpus), ``cent``/``centv`` (cell centroids),
    ``cell_scored``/``cell_ranked`` (per-vector cell affinities),
    ``assign`` (nearest cell per vector) and ``probes`` (each query's
    ``IVF_NPROBE`` closest cells). ONE definition feeds both
    ``_ivf_sql`` and ``_ivfpq_sql``, so the "same probe set" premise of
    the recall lower-bound theorem (test_ivfpq_recall_bounded_by_
    ivf_recall) is true by construction, not by parallel editing.

    Spark dialect computes ``assign`` as a ``max_by`` HASH AGGREGATE
    over ``cell_scored`` (map-side partial combine, no sort) instead of
    the ``rn = 1`` sort-window: the full-corpus argmin is the n-times-k
    row pass, and a window there costs a per-partition sort plus — when
    ``cell_ranked`` also feeds ``probes`` — a physically duplicated
    corpus subtree (measured: 0 ReusedExchange, two full corpus passes).
    With the aggregate, the only remaining ``cell_ranked`` consumer is
    ``probes``, whose ``vec_id < N_QUERIES`` predicate Catalyst pushes
    below the window (partition-key filter) down to the corpus scan, so
    that branch ranks ``N_QUERIES``-times-k rows, not n-times-k. The
    ``struct(ccos, -label)`` ordering key reproduces the window's exact
    tie-break (max ccos, then min label) and is duplicate-free within a
    group (label is unique), so the aggregate is deterministic. DuckDB
    keeps the window form byte-for-byte: its ``arg_max`` rejects
    composite ordering keys, and the oracle runs at sf0.01 where the
    sort is irrelevant — both dialects compute the same argmin."""
    cent_inner = _centroid_sql(dialect).replace(" ORDER BY label, dim", "")
    if dialect == "spark":
        cvec = (
            "SELECT label, transform(sort_array(collect_list(struct(dim, centroid))), "
            "s -> s.centroid) AS cvec FROM cent GROUP BY label"
        )
        qdot = (
            "aggregate(zip_with(c.cvec, e.embedding, (x, y) -> x * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        cnorm_expr = "aggregate(cvec, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)"
        h_cent = "/*+ BROADCAST(c) */ "
        assign_cte = (
            "assign AS (\n"
            "  SELECT vec_id, max_by(label, struct(ccos, -label)) AS cell\n"
            "  FROM cell_scored GROUP BY vec_id)"
        )
    else:
        cvec = "SELECT label, list(centroid ORDER BY dim) AS cvec FROM cent GROUP BY label"
        qdot = "list_dot_product(c.cvec, e.embedding::DOUBLE[])"
        cnorm_expr = "list_dot_product(cvec, cvec)"
        h_cent = ""
        assign_cte = "assign AS (SELECT vec_id, label AS cell FROM cell_ranked WHERE rn = 1)"
    return f"""e AS ({_normed(dialect)}),
cent AS ({cent_inner}),
centv AS (SELECT label, cvec, {cnorm_expr} AS cnrm FROM ({cvec})),
cell_scored AS (
  SELECT {h_cent}e.vec_id, c.label,
         {qdot} / sqrt(c.cnrm * e.nrm) AS ccos
  FROM e CROSS JOIN centv c),
cell_ranked AS (
  SELECT vec_id, label, ccos,
         row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
  FROM cell_scored),
{assign_cte},
probes AS (
  SELECT vec_id AS query_id, label AS cell
  FROM cell_ranked WHERE vec_id < {N_QUERIES} AND rn <= {IVF_NPROBE})"""

def _ivf_sql(dialect: str) -> str:
    """IVF ANN: coarse-quantize every vector to its nearest centroid cell,
    then search only the query's ``IVF_NPROBE`` closest cells.

    At 100 TB this is the partition-pruning form of vector search: the
    cell id is the table's partition/bucket key, and a query touches
    nprobe partitions instead of the full corpus. Centroids here come
    from the label groups (a stand-in for k-means); the assignment +
    probe machinery is the real thing.
    """
    dot_pair = _dot("q.embedding", "n.embedding", dialect)
    # broadcast the centroid table (tiny) against the corpus scan, and
    # the probe list (nprobe rows per query) against the assignments —
    # keeps the corpus side shuffle-free end-to-end. Norms are per-row
    # columns (e.nrm from _normed, cnrm per centroid), never per-pair.
    h_probe = "/*+ BROADCAST(p) */ " if dialect == "spark" else ""
    return f"""
WITH {_ivf_cell_ctes(dialect)},
cand AS (
  SELECT {h_probe}p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, {dot_pair} / sqrt(q.nrm * n.nrm) AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search over centroid cells."""
    _register(spark, sf_dir)
    return spark.sql(_ivf_sql("spark"))

def ivf_topk_sql() -> str:
    return _ivf_sql("duckdb")

# ----------------------------------------------- int8 storage quantization

QUANT_LEVELS = 255  # quantization steps; emitted codes are shifted to [-128, 127]

def _quantize_sql(dialect: str) -> str:
    """Per-dimension min/max int8 quantization codes for every vector.

    Scale shape: the per-dim stats aggregate has 64 keys — map-side
    partials absorb the corpus and the shuffle moves 64 rows per
    partition; the stats then come back as a BROADCAST against the
    dim-exploded corpus, and code assignment is a narrow transform. This
    is the storage side of ANN at 100 TB: 4x smaller vectors for the
    scan-heavy IVF/LSH probes, with the dequant constants (mn, step) a
    tiny dim-indexed table.

    Determinism: codes are ``round((x - mn) * LEVELS / (mx - mn)) - 128``
    over float32-exact inputs widened to double — the same expression
    text in both dialects, and the output is integer so the oracle hash
    is exact. The -128 shift puts codes in [-128, 127], the SIGNED int8
    range a ByteType column / TINYINT cast actually holds (0..255 would
    silently wrap).
    """
    if dialect == "spark":
        dims = (
            "SELECT vec_id, pos + 1 AS dim, CAST(element AS DOUBLE) AS x "
            "FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, element"
        )
        hint = "/*+ BROADCAST(s) */ "
    else:
        dims = (
            "SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x "
            "FROM (SELECT vec_id, embedding, "
            "unnest(generate_series(1, len(embedding))) AS dim FROM embeddings)"
        )
        hint = ""
    return f"""
WITH dims AS ({dims}),
s AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim)
SELECT {hint}d.vec_id, CAST(d.dim AS BIGINT) AS dim,
       CAST(CASE WHEN s.mx = s.mn THEN 0
                 ELSE round((d.x - s.mn) * {QUANT_LEVELS} / (s.mx - s.mn)) - 128
            END AS BIGINT) AS code
FROM dims d JOIN s ON d.dim = s.dim
ORDER BY vec_id, dim
"""

def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization codes (vec_id, dim, code) for the whole corpus."""
    _register(spark, sf_dir)
    return spark.sql(_quantize_sql("spark"))

def quantize_int8_sql() -> str:
    return _quantize_sql("duckdb")

def _ivf_recall_sql(dialect: str) -> str:
    """recall@k of the IVF ANN against the exact brute-force top-k —
    the same in-engine quality metric `_ann_recall_sql` provides for the
    LSH path, so IVF_K/IVF_NPROBE sweeps are a query away. Ground truth
    is the already-linear brute-force scan; the compare join is a tiny
    (N_QUERIES x k) equi-join."""
    return _recall_vs_brute_sql(dialect, _ivf_sql(dialect))

def ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of ``ivf_topk`` vs ``cosine_topk``."""
    _register(spark, sf_dir)
    return spark.sql(_ivf_recall_sql("spark"))

def ivf_recall_sql() -> str:
    return _ivf_recall_sql("duckdb")

# ------------------------------------------------------- k-means (Lloyd)

#: The k-means/SemDeDup cell count is CORPUS-DERIVED, not a constant:
#: k = ceil(n / KMEANS_TARGET_OCCUPANCY), computed IN-ENGINE by an
#: exact-integer scalar subquery over the corpus count (see the ``kk``
#: CTE in ``_kmeans_sql``), so cell occupancy stays ~constant as the
#: corpus grows and the cell-pruned family's total intra-cell pair work
#: (sum of occupancy^2 over cells) stays LINEAR in n instead of the
#: O(n^2/k) a fixed k degrades to (SCALING.md measured 889 s fixed k=4
#: vs 31.6 s k ∝ n for the kNN-graph build at 10x data). At the shipped
#: occupancy 500 every oracle scale (sf0.001 500 vectors .. sf0.1 2,000)
#: derives k=4 — all r1-r4 certified results unchanged — and the 10x
#: replica (20,000 vectors) derives k=40; at 100 TB k is millions and
#: the cell id is the table's bucket key — SemDeDup's own "grow k with
#: the corpus" knob, now in the plan instead of the docs. (An
#: occupancy-125 variant — k=16 at sf0.1, k=160 at the replica — was
#: measured and REJECTED: see the next paragraph.)
#:
#: Occupancy 500 with floor KMEANS_MIN_K=4 is the measured sweet spot:
#: it reproduces k=4 at every oracle scale (sf0.001..0.1 — all r1-r4
#: certified results unchanged) and k=40 at the 10x replica, the exact
#: configuration SCALING.md measured at 2.4x wall per 10x data. The
#: floor keeps the test-scale clustering non-degenerate (>1 cell); the
#: ceil-division keeps k ∝ n once the corpus outgrows it. The residual
#: n*k assignment term (n^2/occupancy FLOPs) is the documented
#: exact-Lloyd cost — the decomposition measured it at 3.9x per 10x at
#: occupancy 125 vs ~1.6x at 500; at extreme scale real systems replace
#: it with a hierarchical / ANN coarse quantizer, never a wider fixed k.
KMEANS_TARGET_OCCUPANCY = 500
KMEANS_MIN_K = 4
KMEANS_DIMS = 64


def kmeans_k(n_vectors: int) -> int:
    """Python mirror of the in-SQL cell-count derivation (for tests and
    sizing tools): ceil(n / KMEANS_TARGET_OCCUPANCY), floor KMEANS_MIN_K."""
    return max(KMEANS_MIN_K, -(-int(n_vectors) // KMEANS_TARGET_OCCUPANCY))


_E9 = 1_000_000_000

def _qarr_sql(dialect: str) -> str:
    """e9 integer quantization of the embedding array — the shared entry
    point into the exact-centroid arithmetic (`_kmeans_sql`,
    `_farthest_init_sql`)."""
    if dialect == "spark":
        return f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_E9}) AS BIGINT))"
    return f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_E9}) AS BIGINT))"


def _cdist_cols(dialect: str, qcol: str, ca: str) -> str:
    """The module's fixed-order exact-integer distance fold with
    PARAMETRIC operands: squared distance between the e9-quantized
    integer vector column ``qcol`` and the integer-sum centroid aliased
    ``ca`` (columns ``sv``, ``n``). ``_cdist_cols(d, "q.qv", "c")`` is
    byte-identical to the historical ``_cdist_sql`` output; the aliases
    exist for `_twolevel_assign_sql`'s joins (vector-vs-seed under
    different FROM aliases)."""
    nd = KMEANS_DIMS
    if dialect == "spark":
        return (
            f"aggregate(zip_with({qcol}, {ca}.sv, (a, b) -> "
            f"CAST(a * {ca}.n - b AS DOUBLE) * CAST(a * {ca}.n - b AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / CAST({ca}.n * {ca}.n AS DOUBLE)"
        )
    return (
        f"list_reduce(list_transform(range(1, {nd + 1}), i -> "
        f"CAST({qcol}[i] * {ca}.n - {ca}.sv[i] AS DOUBLE) * CAST({qcol}[i] * {ca}.n - {ca}.sv[i] AS DOUBLE)), "
        f"(acc, v) -> acc + v) / CAST({ca}.n * {ca}.n AS DOUBLE)"
    )


def _argmin_over(
    dialect: str,
    key: str,
    cand: str,
    out: str,
    inner: str,
) -> str:
    """Lowest-``cand`` argmin of ``d`` per ``key`` over the ``inner``
    relation — the module's ONE definition of the Lloyd-assignment
    argmin (`_kmeans_sql` and `_twolevel_assign_sql` both splice it, so
    the tie-break semantics cannot drift between sites).

    Spark emits a single ``min_by(cand, struct(d, cand))`` HASH
    AGGREGATE: the (key, cand, d) cross-product rows are partially
    aggregated map-side and never sort-shuffled — per Lloyd iteration
    the shuffle carries ~n partial rows instead of the n·k scored rows
    that the window form sorts (the same restructure ``_ivf_cell_ctes``
    applies to its ``assign``, and the dominant data movement of the
    k-means family at scale). ``struct(d, cand)`` reproduces the
    window form's exact tie-break (min d, then min cand; the key is
    duplicate-free within a group because cand ids are unique), so the
    aggregate is deterministic.

    DuckDB keeps the historical min-over-window + exact-equality-filter
    form BYTE-IDENTICAL to the pre-round-6 oracle strings (its
    ``arg_min`` rejects composite ordering keys, and the oracle runs at
    sf0.01 where the sort is irrelevant) — both dialects compute the
    same argmin over the same exact doubles.
    """
    if dialect == "spark":
        return f"""
  SELECT {key}, min_by(CAST({cand} AS BIGINT), struct(d, {cand})) AS {out}
  FROM ({inner})
  GROUP BY {key}"""
    return f"""
  SELECT {key}, CAST(min({cand}) FILTER (WHERE d = md) AS BIGINT) AS {out}
  FROM (
    SELECT {key}, {cand}, d, min(d) OVER (PARTITION BY {key}) AS md
    FROM ({inner}))
  GROUP BY {key}"""


def _cdist_sql(dialect: str) -> str:
    """Squared distance between quantized vector ``q.qv`` and integer-sum
    centroid ``c`` (``sv``, ``n``): a fixed-order fold over dims of
    ``(qv*n - sv)^2`` doubles, one division by ``n^2`` at the end — every
    FP op has a fixed operand order, so both engines produce identical
    doubles. Single definition shared by ``_kmeans_sql`` and
    ``_ood_centroid_sql`` so the distance semantics cannot drift."""
    return _cdist_cols(dialect, "q.qv", "c")


def _kmeans_sql(dialect: str) -> str:
    """Two unrolled Lloyd iterations of k-means, bit-deterministic.

    The iterative-ML pattern on the engine: centroids live as EXACT
    per-dimension integer sums ``(sv, n)`` (embeddings quantized once at
    e9, the `_centroid_sql` idiom), so the update step is order-free.
    The assignment distance is computed per (vector, centroid) as a
    fixed-order left fold over dims of ``(q*n - s)^2`` doubles, then one
    division by ``n^2`` — every FP op has a fixed operand order, so both
    engines produce identical doubles and identical argmins (ties break
    to the lowest cluster id via exact equality with the per-vector min).

    Scale shape per iteration: the centroid table is K rows — a
    broadcast nested loop against the corpus scan (bounded build side),
    then one (cluster, dim)-keyed shuffle for the update sums. Nothing
    corpus-sized ever broadcasts or sorts globally; at 100 TB you run
    the same two CTE shapes in a driver loop with the centroid table
    checkpointed between rounds.
    """
    occ, nd = KMEANS_TARGET_OCCUPANCY, KMEANS_DIMS
    # corpus-derived cell count, exact-integer ceil division in each
    # dialect's native idiom (no FP: both engines derive the SAME k)
    kexpr = (
        f"(count(*) + {occ - 1}) div {occ}"
        if dialect == "spark"
        else f"(count(*) + {occ - 1}) // {occ}"
    )
    dist = _cdist_sql(dialect)
    qarr = _qarr_sql(dialect)
    if dialect == "spark":
        series = f"explode(sequence(1, {nd}))"
        elem = "element_at(qv, CAST(dim AS INT))"
        collect = "transform(sort_array(collect_list(struct(dim, s))), x -> x.s)"
        hint = "/*+ BROADCAST(c) */ "
    else:
        series = f"unnest(generate_series(1, {nd}))"
        elem = "qv[CAST(dim AS INT)]"
        collect = "list(s ORDER BY dim)"
        hint = ""

    def assign(cent: str) -> str:
        return _argmin_over(
            dialect,
            "vec_id",
            "cluster",
            "cluster",
            f"""
      SELECT {hint}q.vec_id, c.cluster, {dist} AS d
      FROM q CROSS JOIN {cent} c""",
        )

    def update(assigned: str) -> str:
        return f"""
  SELECT cluster, {collect} AS sv, CAST(min(n) AS BIGINT) AS n
  FROM (
    SELECT cluster, CAST(dim AS BIGINT) AS dim,
           CAST(sum({elem}) AS BIGINT) AS s, count(*) AS n
    FROM (SELECT q.qv, a.cluster, {series} AS dim
          FROM q JOIN {assigned} a ON a.vec_id = q.vec_id)
    GROUP BY cluster, dim)
  GROUP BY cluster"""

    return f"""
WITH q AS (SELECT vec_id, {qarr} AS qv FROM embeddings),
kk AS (SELECT greatest(CAST({KMEANS_MIN_K} AS BIGINT), CAST({kexpr} AS BIGINT)) AS k
       FROM embeddings),
c0 AS (SELECT CAST(vec_id AS BIGINT) AS cluster, qv AS sv, CAST(1 AS BIGINT) AS n
       FROM q WHERE vec_id < (SELECT k FROM kk)),
a1 AS ({assign("c0")}),
c1 AS ({update("a1")}),
a2 AS ({assign("c1")})
SELECT vec_id, cluster FROM a2 ORDER BY vec_id
"""

def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment after two Lloyd iterations (corpus-derived k)."""
    _register(spark, sf_dir)
    return spark.sql(_kmeans_sql("spark"))

def kmeans_assign_sql() -> str:
    return _kmeans_sql("duckdb")


# -------------------------------- two-level (coarse-pruned) assignment

#: Coarse quantizer sizing for the two-level assignment: k1 =
#: ceil(n / KMEANS_COARSE_OCCUPANCY), floor 2 — so fine-seeds-per-coarse
#: averages COARSE_OCC / KMEANS_TARGET_OCCUPANCY (= 16) and total
#: distance work is n·(k1 + k/k1) ≈ 2n·sqrt(k) instead of flat Lloyd's
#: n·k. This is the documented replacement for the residual quadratic
#: assignment term (see KMEANS_TARGET_OCCUPANCY). It is an approximation
#: (a vector whose true nearest fine seed lives in a different coarse
#: cell gets its best in-cell seed instead, the standard IVF
#: coarse-quantizer trade), kept as the ``sim_kmeans_twolevel`` entry:
#: the structural demonstration that growing k never requires a corpus
#: x centroid cross join.
KMEANS_COARSE_OCCUPANCY = 8_000
#: coarse cells probed per vector (the IVF nprobe knob): cost
#: n·(k1 + nprobe·k/k1), recall rises steeply with each probe
KMEANS_COARSE_NPROBE = 2


def _twolevel_assign_sql(dialect: str) -> str:
    """Coarse-pruned nearest-seed assignment (both dialects — the
    ``sim_kmeans_twolevel`` contract entry; its exhaustive-probe
    equality with the flat argmin and its plan shape are additionally
    pinned by ``tests/test_similarity.py``).

    Shape: (1) the k1-row coarse seed table cross-joins the corpus once
    (n·k1 folds, k1 broadcast) and each vector keeps its
    ``KMEANS_COARSE_NPROBE`` nearest coarse cells; (2) every FINE seed
    is assigned to its one coarse cell (k·k1, trivial); (3) each vector
    scores ONLY the fine seeds of its probed cells — an equi-join on
    the coarse id (n·nprobe·k/k1 average folds, fine table broadcast),
    with the probed coarse seeds UNIONed into the candidate set so
    every vector is guaranteed a candidate even when a probed cell
    holds zero fine seeds (possible only with exact-duplicate
    embeddings among the coarse seeds, whose tie-break assigns a
    duplicated seed to the lower id and empties the higher id's cell —
    the r5 ADVICE edge; without duplicates the union adds only
    exact-duplicate candidate rows and changes nothing). Ties break
    to the lowest seed id via the module's exact-min discipline.

    Quality note for THIS corpus: the synthetic embeddings are isotropic
    random vectors (distances concentrate), the hardest case for coarse
    pruning — the test measures agreement with the flat nearest-seed
    argmin and pins the measured floor; clustered real embeddings sit
    far above it.
    """
    occ, cocc = KMEANS_TARGET_OCCUPANCY, KMEANS_COARSE_OCCUPANCY
    qarr = _qarr_sql(dialect)
    idiv = "div" if dialect == "spark" else "//"
    # BROADCAST(c) is the inherent IVF cost: assignment compares every
    # vector against ALL coarse centroids, so the k1-row coarse table
    # must reach every partition (extreme scale adds quantizer levels,
    # it never un-ships the top level). The in-cell join is deliberately
    # NOT hinted: fm scales as n/KMEANS_TARGET_OCCUPANCY, so forcing a
    # broadcast there would be the dns_match_once smallness artifact —
    # stats pick BHJ at test scale and a coarse-keyed shuffle at real
    # scale, both correct.
    hc = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    hf = ""

    def dst(qa: str, ca: str) -> str:
        # the module's ONE fixed-order exact-integer distance fold with
        # parametric side aliases — delegated so a future tweak to
        # _cdist_cols cannot silently miss this path (review finding)
        return _cdist_cols(dialect, f"{qa}.qv", ca)

    def argmin(src: str, out: str) -> str:
        return _argmin_over(dialect, "vec_id", "cand", out, src)

    # each vector keeps its NPROBE nearest coarse cells (ties by id)
    coarse_of_vec = f"""
  SELECT vec_id, coarse
  FROM (
    SELECT vec_id, cand AS coarse,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cand) AS rk
    FROM (
      SELECT {hc}q.vec_id, c.coarse AS cand, {dst('q', 'c')} AS d
      FROM q CROSS JOIN cz c))
  WHERE rk <= {KMEANS_COARSE_NPROBE}"""
    coarse_of_fine = argmin(
        f"""SELECT {hc}q.vec_id, c.coarse AS cand, {dst('q', 'c')} AS d
      FROM (SELECT fine AS vec_id, sv AS qv FROM fz) q CROSS JOIN cz c""",
        "coarse",
    )
    # The candidate set UNIONs the probed coarse seeds themselves (each
    # keyed to its own cell): a coarse seed's id is < k1 <= k, so it is
    # also a valid fine seed with the identical (sv, n) row. When every
    # probed cell is non-empty and each coarse seed self-assigned this
    # adds exact-duplicate candidate rows (the min-argmin is over a
    # multiset — no result change); when EXACT-DUPLICATE embeddings
    # among the coarse seeds tie-break a seed into a LOWER id's cell and
    # leave its own cell with zero fine seeds, the union guarantees a
    # probed vector still gets >= nprobe candidates instead of silently
    # dropping from the output (r5 ADVICE finding).
    in_cell = argmin(
        f"""SELECT {hf}qv2.vec_id, fm.fine AS cand, {dst('qv2', 'fm')} AS d
      FROM (SELECT v.vec_id, v.coarse, q0.qv
            FROM vc v JOIN q q0 ON q0.vec_id = v.vec_id) qv2
      JOIN (SELECT fc.vec_id AS fine, fc.coarse, f.sv, f.n
            FROM fc JOIN fz f ON f.fine = fc.vec_id
            UNION ALL
            SELECT coarse AS fine, coarse, sv, n FROM cz) fm
        ON fm.coarse = qv2.coarse""",
        "cluster",
    )
    return f"""
WITH q AS (SELECT vec_id, {qarr} AS qv FROM embeddings),
kk AS (SELECT greatest(CAST(4 AS BIGINT),
                       CAST((count(*) + {occ - 1}) {idiv} {occ} AS BIGINT)) AS k,
              greatest(CAST(2 AS BIGINT),
                       CAST((count(*) + {cocc - 1}) {idiv} {cocc} AS BIGINT)) AS k1
       FROM embeddings),
cz AS (SELECT CAST(vec_id AS BIGINT) AS coarse, qv AS sv, CAST(1 AS BIGINT) AS n
       FROM q WHERE vec_id < (SELECT k1 FROM kk)),
fz AS (SELECT CAST(vec_id AS BIGINT) AS fine, qv AS sv, CAST(1 AS BIGINT) AS n
       FROM q WHERE vec_id < (SELECT k FROM kk)),
vc AS ({coarse_of_vec}),
fc AS ({coarse_of_fine}),
a AS ({in_cell})
SELECT vec_id, cluster FROM a ORDER BY vec_id
"""


def kmeans_assign_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style two-level nearest-seed assignment (the scale form:
    n·(k1 + nprobe·k/k1) distance folds, never the flat n·k cross join)."""
    _register(spark, sf_dir)
    return spark.sql(_twolevel_assign_sql("spark"))


def kmeans_assign_twolevel_sql() -> str:
    return _twolevel_assign_sql("duckdb")


# ------------------------------------------------- product quantization

PQ_SUBS = 4  # subspaces (codebooks)
PQ_SUBDIM = KMEANS_DIMS // PQ_SUBS  # dims per subvector
PQ_K = 4  # codewords per codebook; seeds = vec_id 0..3's subvectors

def _pq_sql(dialect: str) -> str:
    """Product quantization (Jégou et al. 2011): split each embedding
    into ``PQ_SUBS`` subvectors and k-means each subspace independently;
    a vector's code is its per-subspace nearest-codeword ids. The
    vector-compression path for ANN at 100 TB — codes are
    ``PQ_SUBS * log2(PQ_K)`` bits instead of ``dims * 32``.

    Same bit-determinism contract as ``_kmeans_sql`` (exact-integer
    centroid sums, fixed-order distance folds, ties to the lowest
    codeword). The assign/update CTE machinery deliberately parallels
    ``_kmeans_sql`` rather than sharing code: the two entries are each
    pinned by a 3-scale oracle plus a numpy reimplementation test, so a
    contract change applied to one and not the other fails its gates
    rather than drifting silently. Generalized by a ``sub`` key: every
    CTE carries
    (sub, cluster) instead of (cluster), so the ONE plan trains all
    ``PQ_SUBS`` codebooks simultaneously — the codebook table is
    ``PQ_SUBS x PQ_K`` rows, broadcast; the update step is one
    (sub, cluster, dim)-keyed shuffle. Scale shape identical to
    k-means: nothing corpus-sized broadcasts or globally sorts.
    """
    m, sd, k, e9 = PQ_SUBS, PQ_SUBDIM, PQ_K, _E9
    if dialect == "spark":
        qarr = f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {e9}) AS BIGINT))"
        subs = f"explode(sequence(0, {m - 1}))"
        subvec = f"slice(qv, sub * {sd} + 1, {sd})"
        dist = (
            f"aggregate(zip_with(q.sv, c.cv, (a, b) -> "
            f"CAST(a * c.n - b AS DOUBLE) * CAST(a * c.n - b AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / CAST(c.n * c.n AS DOUBLE)"
        )
        series = f"explode(sequence(1, {sd}))"
        elem = "element_at(sv, CAST(dim AS INT))"
        collect = "transform(sort_array(collect_list(struct(dim, s))), x -> x.s)"
        hint = "/*+ BROADCAST(c) */ "
    else:
        qarr = f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {e9}) AS BIGINT))"
        subs = f"unnest(generate_series(0, {m - 1}))"
        subvec = f"list_slice(qv, sub * {sd} + 1, sub * {sd} + {sd})"
        dist = (
            f"list_reduce(list_transform(range(1, {sd + 1}), i -> "
            f"CAST(q.sv[i] * c.n - c.cv[i] AS DOUBLE) * CAST(q.sv[i] * c.n - c.cv[i] AS DOUBLE)), "
            f"(acc, v) -> acc + v) / CAST(c.n * c.n AS DOUBLE)"
        )
        series = f"unnest(generate_series(1, {sd}))"
        elem = "sv[CAST(dim AS INT)]"
        collect = "list(s ORDER BY dim)"
        hint = ""

    def assign(cent: str) -> str:
        return f"""
  SELECT vec_id, sub, CAST(min(cluster) FILTER (WHERE d = md) AS BIGINT) AS code
  FROM (
    SELECT vec_id, sub, cluster, d, min(d) OVER (PARTITION BY vec_id, sub) AS md
    FROM (
      SELECT {hint}q.vec_id, q.sub, c.cluster, {dist} AS d
      FROM qs q JOIN {cent} c ON c.sub = q.sub))
  GROUP BY vec_id, sub"""

    def update(assigned: str) -> str:
        return f"""
  SELECT sub, cluster, {collect} AS cv, CAST(min(n) AS BIGINT) AS n
  FROM (
    SELECT sub, cluster, CAST(dim AS BIGINT) AS dim,
           CAST(sum({elem}) AS BIGINT) AS s, count(*) AS n
    FROM (SELECT q.sv, q.sub, a.code AS cluster, {series} AS dim
          FROM qs q JOIN {assigned} a ON a.vec_id = q.vec_id AND a.sub = q.sub)
    GROUP BY sub, cluster, dim)
  GROUP BY sub, cluster"""

    return (
        f"""WITH q AS (SELECT vec_id, {qarr} AS qv FROM embeddings),
qs AS (SELECT vec_id, sub, {subvec} AS sv
       FROM (SELECT vec_id, qv, {subs} AS sub FROM q)),
c0 AS (SELECT sub, CAST(vec_id AS BIGINT) AS cluster, sv AS cv, CAST(1 AS BIGINT) AS n
       FROM qs WHERE vec_id < {k} LIMIT {k * m}),
a1 AS ({assign("c0")}),
c1 AS ({update("a1")}),
a2 AS ({assign("c1")})""",
        dist,
        hint,
    )

def _pq_codes_sql(dialect: str) -> str:
    ctes, _, _ = _pq_sql(dialect)
    return f"""
{ctes}
SELECT vec_id, sub, code FROM a2 ORDER BY vec_id, sub
"""

def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(vector, subspace) PQ code after one Lloyd round per codebook."""
    _register(spark, sf_dir)
    return spark.sql(_pq_codes_sql("spark"))

def pq_codes_sql() -> str:
    return _pq_codes_sql("duckdb")

def _pq_adc_sql(dialect: str) -> str:
    """PQ search by Asymmetric Distance Computation: the query keeps its
    full subvectors, the corpus keeps only its codes; per query a
    ``PQ_SUBS x PQ_K`` lookup table of query↔codeword distances is
    computed ONCE (the same exact fold as training), and every corpus
    vector scores as the sum of ``PQ_SUBS`` table entries joined on its
    codes — the ADC estimator of Jégou et al. 2011.

    Determinism: each LUT entry is a fixed-order fold (identical in
    both engines); the per-vector total sums the m entries in sub
    order via an ordered-list fold, so the double is bit-identical.

    Scale shape: the LUT is ``N_QUERIES * PQ_SUBS * PQ_K`` rows —
    broadcast; the corpus side touches ONLY the integer code table
    (never the embeddings), which is the entire point of PQ at 100 TB:
    scoring cost and memory are per-code, not per-dimension. Top-k is
    a per-query window over the scored codes."""
    ctes, dist, hint = _pq_sql(dialect)
    if dialect == "spark":
        fold = (
            "aggregate(transform(sort_array(collect_list(struct(a.sub, d))), x -> x.d), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        fold = "list_reduce(list(d ORDER BY a.sub), (acc, v) -> acc + v)"
    return f"""
{ctes},
lut AS (
  SELECT {hint}q.vec_id AS query_id, q.sub, c.cluster, {dist} AS d
  FROM (SELECT * FROM qs WHERE vec_id < {N_QUERIES}) q
  JOIN c1 c ON c.sub = q.sub),
scored AS (
  SELECT l.query_id, a.vec_id, {fold} AS adc
  FROM a2 a JOIN lut l ON l.sub = a.sub AND l.cluster = a.code
  GROUP BY l.query_id, a.vec_id),
ranked AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, adc
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest by PQ asymmetric distance (codes-only corpus side)."""
    _register(spark, sf_dir)
    return spark.sql(_pq_adc_sql("spark"))

def pq_adc_topk_sql() -> str:
    return _pq_adc_sql("duckdb")

def _ivfpq_sql(dialect: str) -> str:
    """IVF-PQ: the two ANN stages composed the way a production vector
    index runs them (FAISS's IVF-ADC form, Jégou et al. 2011 §V) —
    coarse IVF cells prune the CANDIDATE set, then PQ asymmetric
    distance ranks the candidates from their integer codes alone.

    Scale shape: the broadcasts are all bounded (centroid table, probe
    list, ``subs x k`` codebooks, per-query LUT); the corpus
    contributes its cell assignment (computed against the broadcast
    centroids, shuffle-free) and its code table. A query therefore
    touches ``nprobe`` cells' codes — never the embedding column, never
    the full corpus. This flavor scores full-vector codebooks rather
    than per-cell residuals (the residual refinement is a constant-
    factor accuracy move, not a plan-shape change).
    """
    ctes, dist, hint = _pq_sql(dialect)
    if dialect == "spark":
        fold = (
            "aggregate(transform(sort_array(collect_list(struct(a.sub, d))), x -> x.d), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        h_probe = "/*+ BROADCAST(p) */ "
    else:
        fold = "list_reduce(list(d ORDER BY a.sub), (acc, v) -> acc + v)"
        h_probe = ""
    return f"""
{ctes},
{_ivf_cell_ctes(dialect)},
lut AS (
  SELECT {hint}q.vec_id AS query_id, q.sub, c.cluster, {dist} AS d
  FROM (SELECT * FROM qs WHERE vec_id < {N_QUERIES}) q
  JOIN c1 c ON c.sub = q.sub),
cand AS (
  SELECT {h_probe}p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT cd.query_id, cd.neighbor_id, {fold} AS adc
  FROM cand cd
  JOIN a2 a ON a.vec_id = cd.neighbor_id
  JOIN lut l ON l.query_id = cd.query_id AND l.sub = a.sub AND l.cluster = a.code
  GROUP BY cd.query_id, cd.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by IVF-pruned candidates scored with PQ asymmetric distance."""
    _register(spark, sf_dir)
    return spark.sql(_ivfpq_sql("spark"))

def ivfpq_topk_sql() -> str:
    return _ivfpq_sql("duckdb")

def _ivfpq_recall_sql(dialect: str) -> str:
    """recall@k of the composed IVF-PQ index against the exact
    brute-force top-k — completes the quality-sweep trio (LSH, IVF,
    IVF-PQ), so the cell-count/nprobe/codebook-size trade-off is
    measurable with one query per configuration. The PQ stage adds code
    quantization error on top of IVF's cell pruning, so this recall
    lower-bounds `sim_ivf_recall`'s."""
    return _recall_vs_brute_sql(dialect, _ivfpq_sql(dialect))

def ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of ``ivfpq_topk`` vs ``cosine_topk``."""
    _register(spark, sf_dir)
    return spark.sql(_ivfpq_recall_sql("spark"))

def ivfpq_recall_sql() -> str:
    return _ivfpq_recall_sql("duckdb")

# ------------------------------------------------- semantic dedup (SemDeDup)

SEMANTIC_DUP_THRESHOLD = COSINE_DUP_THRESHOLD


def _semantic_dedup_sql(dialect: str) -> str:
    """SemDeDup (Abbas et al. 2023): k-means clusters quarantine the
    quadratic, cosine de-dups WITHIN each cluster only.

    Reuses the two-Lloyd-round assignment CTEs from ``_kmeans_sql``
    verbatim (string surgery on the shared prefix, the
    ``_incremental_ingest_sql`` idiom) — the clustering this entry
    de-dups within is literally the audited, oracle-checked one. Pair
    generation is an EQUI-join on the cluster id (never all-pairs): cost
    is sum over clusters of size^2, which SemDeDup keeps bounded at
    scale by growing k with the corpus so cluster occupancy stays
    constant — since round 5 that growth is IN the plan (the ``kk``
    CTE derives k = ceil(n / KMEANS_TARGET_OCCUPANCY), measured 1.3x
    wall at 10x data vs the retired fixed-k 104x). A doc is dropped when a LOWER-id member of its own cluster
    is cosine-similar above the threshold (keep-first-occurrence, the
    same deterministic rule as the pair-based dedups); ``dup_of``
    reports the smallest such partner.

    Both the cosine fold and the assignment arithmetic carry the
    module's bit-determinism contract, so the oracle hash certifies the
    whole cluster -> pair -> verdict chain.
    """
    km = _kmeans_sql(dialect)
    prefix = km[: km.rindex("SELECT vec_id, cluster FROM a2")].rstrip() + ","
    dot = _dot("x.embedding", "y.embedding", dialect)
    return f"""{prefix}
e AS ({_normed(dialect)}),
mem AS (
  SELECT a.vec_id, a.cluster, e.embedding, e.nrm
  FROM a2 a JOIN e ON a.vec_id = e.vec_id),
pairs AS (
  SELECT y.vec_id AS vec_b, min(x.vec_id) AS dup_of
  FROM mem x JOIN mem y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE {dot} / sqrt(x.nrm * y.nrm) >= {SEMANTIC_DUP_THRESHOLD}
  GROUP BY y.vec_id)
SELECT m.vec_id, m.cluster,
       p.vec_b IS NULL AS kept,
       coalesce(p.dup_of, CAST(-1 AS BIGINT)) AS dup_of
FROM mem m LEFT JOIN pairs p ON m.vec_id = p.vec_b
ORDER BY m.vec_id
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict: cluster id, kept flag, and the
    lower-id intra-cluster near-duplicate it defers to (or -1)."""
    _register(spark, sf_dir)
    return spark.sql(_semantic_dedup_sql("spark"))


def semantic_dedup_sql() -> str:
    return _semantic_dedup_sql("duckdb")

# ------------------------------------------- centroid-distance OOD filter

#: OOD when dist > 1.04x the vector's cluster mean distance. The factor
#: sits near 1 deliberately: these synthetic embeddings are isotropic
#: random vectors, so centroid distances CONCENTRATE (max/mean ~1.05 at
#: every sf — the high-dim measure-concentration effect); a real
#: embedding cloud is anisotropic and deployments use 1.5-2x. The
#: verdict mechanics (exact cross-multiplied compare vs the cluster's
#: own distance mass) are what the entry pins, not the constant.
OOD_FACTOR_NUM = 104
OOD_FACTOR_DEN = 100
#: the fold's d is in (e9-quantized)^2 units; dividing by 1e12 leaves the
#: squared distance in original units at e6 scale, BIGINT-ranged
_OOD_DESCALE = "1e12"


def _ood_centroid_sql(dialect: str) -> str:
    """Embedding-space outlier pruning (the DataComp/DFN-family curation
    gate next to SemDeDup's near-dup gate): a vector is out-of-
    distribution when its distance to its own k-means centroid exceeds
    ``OOD_FACTOR`` x that cluster's mean member distance — far-from-
    distribution samples are exactly what embedding-based quality
    filters drop before training. Reuses the two-Lloyd-round centroid
    CTEs from ``_kmeans_sql`` verbatim (string surgery, the
    ``_semantic_dedup_sql`` idiom) and the SAME ``_cdist_sql`` distance
    definition, then quantizes the assigned-centroid distance once at e6
    and makes the verdict a cross-multiplied exact-integer compare
    (``dist * n * DEN > FACTOR_NUM * sum_dist``) against the cluster's
    own distance mass — self-normalizing, no corpus-dependent threshold
    constant. Plan shape: the K-row centroid table broadcasts against
    the corpus scan (the kmeans assignment shape), then one
    cluster-keyed aggregate of 2 integers joins back by cluster id —
    nothing corpus-sized shuffles beyond the assignment itself.
    """
    km = _kmeans_sql(dialect)
    prefix = km[: km.index("a2 AS (")].rstrip().rstrip(",") + ","
    dist = _cdist_sql(dialect)
    hint = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    if dialect == "spark":
        # the value-needing variant of `_argmin_over`: min_by for the
        # argmin plus min(d) for the distance VALUE, one hash aggregate
        # (min(md) of the window form == min(d) — same exact doubles)
        d2 = f"""
  SELECT vec_id, min_by(CAST(cluster AS BIGINT), struct(d, cluster)) AS cluster,
         CAST(round(min(d) / {_OOD_DESCALE}) AS BIGINT) AS dist_e6
  FROM (
      SELECT {hint}q.vec_id, c.cluster, {dist} AS d
      FROM q CROSS JOIN c1 c)
  GROUP BY vec_id"""
    else:
        d2 = f"""
  SELECT vec_id, CAST(min(cluster) FILTER (WHERE d = md) AS BIGINT) AS cluster,
         CAST(round(min(md) / {_OOD_DESCALE}) AS BIGINT) AS dist_e6
  FROM (
    SELECT vec_id, cluster, d, min(d) OVER (PARTITION BY vec_id) AS md
    FROM (
      SELECT {hint}q.vec_id, c.cluster, {dist} AS d
      FROM q CROSS JOIN c1 c))
  GROUP BY vec_id"""
    return f"""{prefix}
d2 AS ({d2}),
cstat AS (
  SELECT cluster, CAST(sum(dist_e6) AS BIGINT) AS sum_e6,
         CAST(count(*) AS BIGINT) AS n_members
  FROM d2 GROUP BY cluster)
SELECT d.vec_id, d.cluster, d.dist_e6, s.n_members,
       CAST(d.dist_e6 * s.n_members * {OOD_FACTOR_DEN}
            > {OOD_FACTOR_NUM} * s.sum_e6 AS BOOLEAN) AS is_ood
FROM d2 d JOIN cstat s ON d.cluster = s.cluster
ORDER BY d.vec_id
"""


def ood_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector OOD verdict vs its own cluster's mean centroid distance."""
    _register(spark, sf_dir)
    return spark.sql(_ood_centroid_sql("spark"))


def ood_centroid_sql() -> str:
    return _ood_centroid_sql("duckdb")


# --------------------------------------------- hybrid retrieval (RRF fusion)

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 20  # candidates taken from each retriever
RRF_SCALE = 1_000_000  # integer scale: score = Σ SCALE div (K + rank)
HYBRID_QUERY_VEC = 0  # the query vector paired with the keyword query


def _hybrid_rrf_sql(dialect: str) -> str:
    """Hybrid retrieval: keyword (BM25-idf integer scoring, the
    ``text_keyword_search`` weights) + vector (brute-force cosine, the
    ``sim_cosine_topk`` fold) candidate lists fused by reciprocal-rank
    fusion — the standard modern RAG retrieval stack as one plan.

    RRF needs only RANKS, so the fusion is exact-integer:
    ``SCALE div (K + rank)`` summed over the retrievers a doc appears
    in (Cormack et al.'s 1/(k+r), log- and float-free). Both candidate
    generators are the already-audited shapes: keyword scoring is
    mapper-only against one broadcast weight row; cosine scoring pairs
    the corpus with ONE query vector; each side keeps its top ``POOL``
    via a rank filter (Spark rewrites rank<=k into WindowGroupLimit —
    partition-local top-k, no global sort of the corpus); the fusion
    join touches <= 2·POOL rows. Doc and vector ids share the id space
    (doc_id == vec_id), which is how a production corpus keys its text
    and embedding shards too.
    """
    from .text import _kw_score_parts

    k, pool, scale, qid = RRF_K, RRF_POOL, RRF_SCALE, HYBRID_QUERY_VEC
    div = "div" if dialect == "spark" else "//"
    df_cols, weights, kw_score = _kw_score_parts(dialect)
    dot = _dot("q.embedding", "c.embedding", dialect)
    # hint the JOIN ALIAS (q), not the CTE name (qv): Spark resolves
    # relation hints against the alias in scope, and an unresolved name
    # silently no-ops — the 1-row query-vector side would then sort-merge
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    return f"""
WITH stats AS (SELECT CAST(count(*) AS BIGINT) AS n, {df_cols} FROM documents),
kw_scored AS (
  SELECT d.doc_id, {kw_score} AS score
  FROM documents d CROSS JOIN (SELECT {weights} FROM stats) s),
kw AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM kw_scored WHERE score > 0)
  WHERE rank <= {pool}),
e AS ({_normed(dialect)}),
qv AS (SELECT embedding, nrm FROM e WHERE vec_id = {qid} LIMIT 1),
vec_scored AS (
  SELECT {hint}c.vec_id, {dot} / sqrt(q.nrm * c.nrm) AS cosine
  FROM qv q JOIN e c ON c.vec_id <> {qid}),
vec AS (
  SELECT vec_id, rank FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
    FROM vec_scored)
  WHERE rank <= {pool}),
fused AS (
  SELECT coalesce(kw.doc_id, vec.vec_id) AS doc_id,
         coalesce({scale} {div} ({k} + kw.rank), 0)
           + coalesce({scale} {div} ({k} + vec.rank), 0) AS rrf_score,
         coalesce(kw.rank, CAST(-1 AS BIGINT)) AS kw_rank,
         coalesce(vec.rank, CAST(-1 AS BIGINT)) AS vec_rank
  FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.vec_id)
SELECT doc_id, rrf_score, kw_rank, vec_rank
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {TOP_K * 2}
"""


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword + vector candidates fused by integer reciprocal-rank
    fusion (doc_id == vec_id keys both shards)."""
    from ..sources.tables import load_table as _lt

    _register(spark, sf_dir)
    _lt(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_hybrid_rrf_sql("spark"))


def hybrid_rrf_sql() -> str:
    return _hybrid_rrf_sql("duckdb")

# ----------------------------------- LSH-quarantined embedding dedup pairs


def _embedding_lsh_pairs_sql(dialect: str) -> str:
    """The SCALE path for embedding near-dup detection — the vector-space
    analogue of ``dedup_minhash_lsh``: candidate pairs come from
    same-bucket self-joins over the multi-table sign-LSH (each branch a
    plain equi-join on the bucket id — O(pairs-per-bucket), never
    all-pairs), verified by the exact cosine fold. The quarantined
    all-pairs form (``dedup_embedding_cosine``) stays the ground truth;
    precision vs it is 1.0 by construction (same threshold, exact
    verification), recall is measured in-engine by
    ``embedding_lsh_dup_recall``. The bucket keyspace is corpus-derived
    like ``dedup_semantic``'s cell count (round 5): the effective bucket
    width comes from the ``lb`` CTE (2^nb buckets/table, nb = the
    smallest width holding per-bucket occupancy at
    ``LSH_TARGET_OCCUPANCY``), so per-bucket self-join candidate mass
    stays ~occupancy² per bucket — linear in n — instead of growing
    linearly per bucket at a fixed 2^4 keyspace. The residual scale
    contract is near-dup pair structure itself, the same contract as
    MinHash LSH banding.
    """
    dot = _dot("a.embedding", "b.embedding", dialect)
    buckets = ", ".join(
        f"{_bucket_expr('embedding', t, dialect)} AS b{t}" for t in range(LSH_TABLES)
    )
    # candidate ids FIRST (UNION dedups bare int pairs — a pair colliding
    # in j tables appears once), THEN two fetch-joins score each pair's
    # O(dims) cosine fold exactly once. Scoring inside the per-table
    # branches would pay the fold per collision and make the UNION
    # distinct float rows (review fix).
    branches = "\nUNION\n".join(
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b\n"
        f"  FROM bk a JOIN bk b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH {_lsh_bits_cte(dialect)},
e AS ({_normed(dialect)}),
bk AS (SELECT vec_id, {buckets} FROM embeddings CROSS JOIN lb),
cand AS (
{branches}),
scored AS (
  SELECT c.vec_a, c.vec_b, {dot} / sqrt(a.nrm * b.nrm) AS cosine
  FROM cand c
  JOIN e a ON c.vec_a = a.vec_id
  JOIN e b ON c.vec_b = b.vec_id)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {COSINE_DUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def embedding_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (candidates from same-bucket
    equi-joins, exact-cosine verified) — the production path next to the
    quarantined all-pairs verifier."""
    _register(spark, sf_dir)
    return spark.sql(_embedding_lsh_pairs_sql("spark"))


def embedding_lsh_dups_sql() -> str:
    return _embedding_lsh_pairs_sql("duckdb")


def _embedding_lsh_recall_sql(dialect: str) -> str:
    """Pair recall of the LSH dedup vs the exact all-pairs relation, as
    ONE scalar row (found/total/recall): the quality knob for
    LSH_TABLES / derived-width sweeps, in-engine like the ANN recall entries.
    Precision is structurally 1.0 (LSH pairs are exact-cosine verified
    with the same threshold) and CERTIFIED by ``n_false_pos`` — the
    count of LSH pairs absent from the exact relation, which the oracle
    hash pins to 0."""
    if dialect == "spark":
        # ONE pass of each pair relation (the `_minhash_recall_sql`
        # restructure, embedding twin): the scalar-subquery form
        # re-planned the QUADRATIC exact verifier ~3x and the LSH chain
        # ~2x per evaluation — 52 embedding-payload scans in one plan,
        # the audit census' worst line. Both pair sets are unique on
        # (vec_a, vec_b) (a < b generation; candidate UNION dedups), so
        # a FULL OUTER JOIN carries both memberships through one
        # aggregate; coalesce guards the empty sums. DuckDB keeps the
        # scalar-subquery form byte-for-byte (CTEs materialize there —
        # already single-pass).
        return f"""
WITH exact_pairs AS ({_cosine_pairs_sql(dialect).replace("ORDER BY vec_a, vec_b", "")}),
lsh_pairs AS ({_embedding_lsh_pairs_sql(dialect).replace("ORDER BY vec_a, vec_b", "")}),
j AS (
  SELECT CASE WHEN x.vec_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
         CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END AS is_lsh
  FROM exact_pairs x FULL OUTER JOIN lsh_pairs l
    ON x.vec_a = l.vec_a AND x.vec_b = l.vec_b),
agg AS (
  SELECT CAST(coalesce(sum(is_true * is_lsh), 0) AS BIGINT) AS n_found,
         CAST(coalesce(sum(is_true), 0) AS BIGINT) AS n_true,
         CAST(coalesce(sum(is_lsh), 0) AS BIGINT) AS n_lsh
  FROM j)
SELECT n_found, n_true,
       CASE WHEN n_true = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(n_found AS DOUBLE) / n_true END AS pair_recall,
       n_lsh - n_found AS n_false_pos
FROM agg
"""
    return f"""
WITH exact_pairs AS ({_cosine_pairs_sql(dialect).replace("ORDER BY vec_a, vec_b", "")}),
lsh_pairs AS ({_embedding_lsh_pairs_sql(dialect).replace("ORDER BY vec_a, vec_b", "")}),
hits AS (
  SELECT x.vec_a FROM exact_pairs x JOIN lsh_pairs l
    ON x.vec_a = l.vec_a AND x.vec_b = l.vec_b)
SELECT CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_found,
       CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_true,
       -- vacuous recall = 1.0 when the exact relation is empty (a raised
       -- threshold during a parameter sweep): engines disagree on
       -- float/0 (NULL vs Inf), so the zero case must not divide
       CASE WHEN (SELECT count(*) FROM exact_pairs) = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST((SELECT count(*) FROM hits) AS DOUBLE)
                   / (SELECT count(*) FROM exact_pairs) END AS pair_recall,
       CAST((SELECT count(*) FROM lsh_pairs) AS BIGINT)
         - CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_false_pos
"""


def embedding_lsh_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row pair-recall of the LSH embedding dedup vs exact all-pairs."""
    _register(spark, sf_dir, spread=True)
    return spark.sql(_embedding_lsh_recall_sql("spark"))


# --------------------------------------------- MMR diversity re-ranking

MMR_POOL = 10  # relevance candidates per query entering the re-rank
MMR_K = 3  # diversified results returned per query


def _mmr_sql(dialect: str) -> str:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    — the diversity pass a RAG stack runs after retrieval: greedily pick
    the candidate maximizing ``0.5*rel - 0.5*max_sim_to_selected``, so
    near-duplicate hits don't crowd the result list.

    The greedy loop is unrolled as CTEs (the kmeans/pagerank idiom):
    selection 1 is plain argmax relevance; each later step joins the
    remaining pool to the newly selected row, folds one more cosine, and
    keeps a running ``max_sim`` via ``greatest`` — never recomputing
    earlier pairs. All cosines are the fixed-order fold shared with
    ``cosine_topk`` (bit-identical across engines); argmax is
    ``row_number`` with id tiebreak, so float ties can't diverge.

    Scale shape: the pool window is the same corpus-wide top-k as
    ``cosine_topk`` (WindowGroupLimit; the query side broadcast and
    LIMIT-bounded); candidate embeddings arrive by a fetch join on
    cand_id, so the window itself never carries vectors; the re-rank
    then touches only POOL rows per query. Reference scope: beyond
    dnstap2clickhouse's surface — completes the retrieval family
    (cosine/LSH/IVF/PQ/hybrid-RRF) with the post-retrieval stage.
    """
    dot_qc = _dot("q.embedding", "c.embedding", dialect)
    dot_rs = _dot("r.emb", "s.emb", dialect)
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    mmr2 = "0.5 * rel - 0.5 * sim1"
    mmr3 = "0.5 * rel - 0.5 * maxsim"
    return f"""
WITH e AS ({_normed(dialect)}),
qs AS (SELECT * FROM e WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
scored AS (
  SELECT {hint}q.vec_id AS query_id, c.vec_id AS cand_id,
         {dot_qc} / sqrt(q.nrm * c.nrm) AS rel
  FROM qs q JOIN e c ON q.vec_id <> c.vec_id),
pool0 AS (
  SELECT query_id, cand_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rk
  FROM scored),
pool AS (
  SELECT p.query_id, p.cand_id, p.rel, p.rk, c.embedding AS emb, c.nrm
  FROM pool0 p JOIN e c ON p.cand_id = c.vec_id
  WHERE p.rk <= {MMR_POOL}),
sel1 AS (SELECT * FROM pool WHERE rk = 1),
step2 AS (
  SELECT r.query_id, r.cand_id, r.rel, r.emb, r.nrm,
         {dot_rs} / sqrt(r.nrm * s.nrm) AS sim1
  FROM pool r JOIN sel1 s ON r.query_id = s.query_id AND r.cand_id <> s.cand_id),
rank2 AS (
  SELECT query_id, cand_id, rel, emb, nrm, sim1, {mmr2} AS mmr,
         row_number() OVER (PARTITION BY query_id ORDER BY ({mmr2}) DESC, cand_id) AS rn
  FROM step2),
sel2 AS (SELECT * FROM rank2 WHERE rn = 1),
step3 AS (
  SELECT r.query_id, r.cand_id, r.rel,
         greatest(r.sim1, {dot_rs} / sqrt(r.nrm * s.nrm)) AS maxsim
  FROM rank2 r JOIN sel2 s ON r.query_id = s.query_id AND r.cand_id <> s.cand_id),
rank3 AS (
  SELECT query_id, cand_id, rel, {mmr3} AS mmr,
         row_number() OVER (PARTITION BY query_id ORDER BY ({mmr3}) DESC, cand_id) AS rn
  FROM step3),
sel3 AS (SELECT * FROM rank3 WHERE rn = 1),
unioned AS (
  SELECT query_id, CAST(1 AS BIGINT) AS pos, cand_id AS neighbor_id, rel AS score FROM sel1
  UNION ALL
  SELECT query_id, CAST(2 AS BIGINT), cand_id, mmr FROM sel2
  UNION ALL
  SELECT query_id, CAST(3 AS BIGINT), cand_id, mmr FROM sel3)
SELECT query_id, pos, neighbor_id, score FROM unioned
ORDER BY query_id, pos
"""


#: anchor splitting ``_mmr_sql`` into the corpus pass (everything up to
#: and including the ``pool`` CTE) and the greedy steps that follow —
#: must match the SQL text exactly once or the splice raises.
_MMR_STEP_ANCHOR = ",\nsel1 AS ("


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``MMR_K`` diversity-re-ranked neighbors per query vector.

    The Spark side evaluates the CORPUS PASS (the ``e``→``pool`` CTE
    prefix: full-corpus relevance scoring + per-query top-``MMR_POOL``
    window + embedding fetch) exactly ONCE via ``materialize_scan``,
    then runs the greedy selection steps over the materialized
    ≤ ``N_QUERIES * MMR_POOL``-row pool. Without this, Spark's CTE
    inlining re-expands the chain multiplicatively — ``sel3`` → ``step3``
    → {``rank2``, ``sel2``} each re-derive ``pool`` (leaf census: 20
    embedding-payload scans, ~7 full corpus scoring passes for a 3-step
    re-rank; one more selection step would double it again). The greedy
    steps' SQL text and the DuckDB oracle string stay byte-identical —
    DuckDB materializes CTEs, so the inline form was already single-pass
    there. Values are unchanged
    by construction: the materialized pool is the same relation the CTE
    declared, parquet round-trips its exact schema, and the downstream
    cosine folds never re-derive it.
    """
    from ..sources.tables import materialize_scan

    _register(spark, sf_dir)
    sql = _mmr_sql("spark")
    if sql.count(_MMR_STEP_ANCHOR) != 1:
        raise RuntimeError("mmr pool splice anchor drifted")
    prefix, steps = sql.split(_MMR_STEP_ANCHOR)
    pool_df = spark.sql(prefix + "\nSELECT query_id, cand_id, rel, rk, emb, nrm FROM pool")
    materialize_scan(spark, pool_df, "mmr_pool").createOrReplaceTempView("__mmr_pool")
    return spark.sql(
        "WITH pool AS (SELECT query_id, cand_id, rel, rk, emb, nrm FROM __mmr_pool)"
        + _MMR_STEP_ANCHOR
        + steps
    )


def mmr_rerank_sql() -> str:
    return _mmr_sql("duckdb")


# -------------------------------------- grouped-map normalization (Arrow)

_MINMAX_E9 = 1_000_000_000


def label_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label min-max normalization via ``applyInPandas`` — the
    grouped-map Arrow surface (one group's rows land in one pandas
    frame), completing the Pandas-UDF API matrix next to
    ``mapInPandas`` (mm features) and ``applyInPandasWithState`` (the
    J1 state machine). The shape every per-group feature-scaling /
    per-shard normalization step uses.

    Determinism contract: the per-vector score is the SUM of
    e9-quantized components (exact int64, order-free — the kmeans
    quantization idiom), and the scaling is pure integer arithmetic on
    non-negative numerators, so numpy and the SQL oracle are
    bit-identical; no float ever crosses the group boundary. Scale
    shape: one label-keyed shuffle (the groupBy), mapper-side
    quantization below it — group size is corpus/|labels|, the
    documented constraint of any grouped-map op (a skewed label needs
    the salt-and-merge variant).
    """
    import pandas as pd

    _register(spark, sf_dir)
    emb = spark.table("embeddings").selectExpr(
        "vec_id",
        "label",
        f"aggregate(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_MINMAX_E9}) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v) AS score_e9",
    )

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["score_e9"].min(), pdf["score_e9"].max()
        rng = int(mx) - int(mn)
        if rng == 0:
            pdf["scaled_e6"] = 0
        else:
            pdf["scaled_e6"] = (pdf["score_e9"] - mn) * 1_000_000 // rng
        return pdf[["vec_id", "label", "score_e9", "scaled_e6"]]

    return (
        emb.groupBy("label")
        .applyInPandas(scale, "vec_id bigint, label int, score_e9 bigint, scaled_e6 bigint")
        .orderBy("vec_id")
    )


def label_minmax_sql() -> str:
    return f"""
WITH s AS (
  SELECT vec_id, label,
         list_reduce(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_MINMAX_E9}) AS BIGINT)),
                     (a, v) -> a + v) AS score_e9
  FROM embeddings),
b AS (SELECT label, min(score_e9) AS mn, max(score_e9) AS mx FROM s GROUP BY label)
SELECT s.vec_id, s.label, CAST(s.score_e9 AS BIGINT) AS score_e9,
       CAST(CASE WHEN b.mx = b.mn THEN 0
            ELSE ((s.score_e9 - b.mn) * 1000000) // (b.mx - b.mn) END AS BIGINT) AS scaled_e6
FROM s JOIN b ON s.label = b.label
ORDER BY s.vec_id
"""


# ------------------------------------------- Matryoshka prefix search

MRL_PREFIX = 16  # coarse stage scores only the first 16 of 64 dims
MRL_CANDIDATES = 50  # coarse top-C candidates reranked at full dim


def _prefix(col: str, dialect: str, dims: int = MRL_PREFIX) -> str:
    if dialect == "spark":
        return f"slice({col}, 1, {dims})"
    return f"{col}[1:{dims}]"


def _matryoshka_sql(dialect: str) -> str:
    """Matryoshka (MRL, Kusupati et al. 2022) two-stage retrieval — the
    modern production ANN shape for nested-representation embeddings:
    the COARSE stage ranks every corpus vector by cosine over only the
    first ``MRL_PREFIX`` dims (a 4x cheaper fold; at 100 TB this is the
    stage that touches every row, and with MRL-trained vectors the
    prefix IS a valid embedding), keeps the top ``MRL_CANDIDATES`` per
    query, and the RERANK stage re-scores only those candidates with
    the full-dimension fold. Cost: corpus x prefix-dims + candidates x
    full-dims, vs corpus x full-dims for brute force — the prefix
    fraction of the bill.

    Plan: query side broadcast with a plan-visible LIMIT (the audit
    invariant), both rank filters are per-query windows
    (WindowGroupLimit), candidate fetch re-joins the corpus by id.
    All folds are the shared fixed-order ``_dot`` — doubles
    bit-identical across engines; ties break by id. Reference scope:
    beyond dnstap2clickhouse; completes the ANN family next to
    LSH (hash pruning), IVF (partition pruning), and PQ (code
    compression) with dimension pruning.

    Honesty note: the test corpus's embeddings are RANDOM, so the
    prefix carries little of the full vector's signal and measured
    recall@5 is ~0.2-0.55 (tests pin the two-stage STRUCTURE and exact
    scoring, not a recall floor that only training would earn). With
    MRL-trained vectors — the deployment this targets — the prefix is
    by construction a valid embedding and recall approaches the full
    fold's.
    """
    pdot = _dot("q.pemb", "c.pemb", dialect)
    fdot = _dot("q.embedding", "c.embedding", dialect)
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    hint2 = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    return f"""
WITH e AS ({_normed(dialect)}),
p AS (SELECT vec_id, embedding, nrm, {_prefix('embedding', dialect)} AS pemb
      FROM e),
pn AS (SELECT vec_id, embedding, nrm, pemb,
              {_dot('pemb', 'pemb', dialect)} AS pnrm FROM p),
qs AS (SELECT * FROM pn WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
coarse AS (
  SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {pdot} / sqrt(q.pnrm * c.pnrm) AS pcos
  FROM qs q JOIN pn c ON q.vec_id <> c.vec_id),
cand AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY pcos DESC, neighbor_id) AS crank
        FROM coarse)
  WHERE crank <= {MRL_CANDIDATES}),
rerank AS (
  SELECT {hint2}k.query_id, k.neighbor_id,
         {fdot} / sqrt(q.nrm * c.nrm) AS cosine
  FROM cand k
  JOIN pn c ON c.vec_id = k.neighbor_id
  JOIN qs q ON q.vec_id = k.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rerank)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dim coarse rank + full-dim rerank top-k (see builder)."""
    _register(spark, sf_dir)
    return spark.sql(_matryoshka_sql("spark"))


def matryoshka_topk_sql() -> str:
    return _matryoshka_sql("duckdb")


# ------------------------------------------- binary (sign) embeddings

BIN_WORDS = 2  # 64 dims packed into 2 x 32-bit words
BIN_TOP_K = 5


def _pack_word(dialect: str, word: int) -> str:
    """Sum-of-constants sign packing for dims [word*32+1 .. word*32+32]:
    bit i-1 set iff dim i >= 0. No shift operators — the per-bit weights
    are Python-precomputed literals, so the expression is identical in
    both dialects (array indexing is the only difference: Spark is
    0-based, DuckDB 1-based)."""
    terms = []
    for i in range(32):
        dim = word * 32 + i  # 0-based dim index
        idx = f"embedding[{dim}]" if dialect == "spark" else f"embedding[{dim + 1}]"
        terms.append(f"(CASE WHEN {idx} >= 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _hamming(dialect: str, a: str, b: str) -> str:
    if dialect == "spark":
        return f"bit_count({a} ^ {b})"
    return f"bit_count(xor({a}, {b}))"  # DuckDB: ^ is exponentiation


def _binary_hamming_sql(dialect: str) -> str:
    """Binary (sign-quantized) embedding search — the cheapest vector
    compression: 1 bit per dimension (64x smaller than float32), packed
    into ``BIN_WORDS`` integer words at ingest; search is Hamming
    distance = popcount of XOR per word — pure integer ALU work, no
    floats anywhere, so the WHOLE entry is bit-deterministic (the
    strongest oracle in the similarity family: every output column is
    an integer). Sign-of-dimension is a 1-bit SimHash with identity
    hyperplanes, so Hamming distance is monotone in angular distance
    in expectation — the standard first-stage filter before a float
    rerank (the rerank composition is `sim_matryoshka`'s pattern).

    Completes the compression ladder: float64 fold (exact) -> int8
    scalar (`sim_quantize_int8`) -> PQ codes (`sim_pq_codes`) -> 1-bit
    sign. Scale: packing is mapper-side; the corpus side of the scan
    carries ONLY ``BIN_WORDS`` integers per row (the point at 100 TB);
    query side broadcast with a plan-visible LIMIT; top-k per query is
    a window rank. Reference scope: beyond dnstap2clickhouse.
    """
    w0, w1 = _pack_word(dialect, 0), _pack_word(dialect, 1)
    ham = " + ".join(
        _hamming(dialect, f"q.w{w}", f"c.w{w}") for w in range(BIN_WORDS)
    )
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    return f"""
WITH packed AS (
  SELECT vec_id, {w0} AS w0, {w1} AS w1 FROM embeddings),
qs AS (SELECT * FROM packed WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
scored AS (
  SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST({ham} AS BIGINT) AS hamming
  FROM qs q JOIN packed c ON q.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, hamming
FROM ranked WHERE rank <= {BIN_TOP_K}
ORDER BY query_id, rank
"""


def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-packed Hamming top-k (see builder)."""
    _register(spark, sf_dir)
    return spark.sql(_binary_hamming_sql("spark"))


def binary_hamming_topk_sql() -> str:
    return _binary_hamming_sql("duckdb")


# ------------------------------------------------------- range search

RANGE_TAU = 0.3  # cosine radius (~2.4 sigma for random 64-dim vectors)


def _range_search_sql(dialect: str) -> str:
    """Threshold (radius) search — the similarity family's remaining
    query shape next to top-k: ALL corpus vectors within cosine >=
    RANGE_TAU of each query vector, not a fixed count. The measured
    path is the broadcast-query exact scan (per-query linear — the
    correct baseline; at 100 TB the same plan runs per query batch);
    the entry additionally probes the multi-table sign-LSH index for
    each true match and emits ``lsh_found`` per pair, so the hash
    certifies the deterministic recall pattern of the bucketed index
    at this radius (the one-sided miss profile: LSH can only lose
    pairs, never invent them — verified candidates are exact-cosine
    filtered by the same threshold).

    Scale: the exact arm is the documented per-query scan (queries
    broadcast with plan-visible LIMIT, corpus never shuffles); the LSH
    arm is per-table equi-joins. Nothing corpus-squared.
    """
    dot = _dot("q.embedding", "c.embedding", dialect)
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    buckets = ", ".join(
        f"{_bucket_expr('embedding', t, dialect)} AS b{t}" for t in range(LSH_TABLES)
    )
    branches = "\nUNION\n".join(
        f"SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
        f"  FROM qs q JOIN e c ON q.vec_id <> c.vec_id AND q.b{t} = c.b{t}"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH {_lsh_bits_cte(dialect)},
e AS (SELECT vec_id, embedding, nrm, {buckets}
      FROM ({_normed(dialect)}) CROSS JOIN lb),
qs AS (SELECT * FROM e WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
true_pairs AS (
  SELECT * FROM (
    SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {dot} / sqrt(q.nrm * c.nrm) AS cosine
    FROM qs q JOIN e c ON q.vec_id <> c.vec_id)
  WHERE cosine >= {RANGE_TAU}),
lsh_pairs AS ({branches})
SELECT t.query_id, t.neighbor_id, t.cosine,
       (l.neighbor_id IS NOT NULL) AS lsh_found
FROM true_pairs t LEFT JOIN lsh_pairs l
  ON l.query_id = t.query_id AND l.neighbor_id = t.neighbor_id
ORDER BY t.query_id, t.neighbor_id
"""


def range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All neighbors within the cosine radius + per-pair LSH hit flag."""
    _register(spark, sf_dir)
    return spark.sql(_range_search_sql("spark"))


def range_search_sql() -> str:
    return _range_search_sql("duckdb")


# ------------------------------------------- farthest-point seeding

FPS_K = 4  # centers selected (seed + 3 greedy picks)
_FPS_DESCALE = "1e12"  # same d-unit descale as the OOD gate


def _farthest_init_sql(dialect: str) -> str:
    """Greedy k-center (farthest-point) seeding — the deterministic
    init primitive in front of Lloyd (`sim_kmeans` deliberately seeds
    by id; THIS is the quality init real pipelines use: kmeans++'s
    derandomized cousin, the classic 2-approximation to the k-center
    objective, and the standard coreset/landmark selector): start from
    vec 0, then ``FPS_K - 1`` times add the vector farthest from the
    centers chosen so far (exact ``_cdist_sql`` fold on ``(sv, n=1)``
    center rows, ties to the lowest id). Each selection round is one
    corpus scan against a ≤``FPS_K``-row broadcast center table + a
    1-row plan-visible-LIMIT argmax — the `sim_kmeans` assignment
    shape, never corpus-shuffling. Output: the centers in selection
    order, each with the coverage radius it was picked at (the
    farthest-distance ladder, non-increasing — the k-center
    objective's certificate), e6-quantized in original units.
    """
    dist = _cdist_sql(dialect)
    qarr = _qarr_sql(dialect)
    hint = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    one = "CAST(1 AS BIGINT)"
    parts = [
        f"""
WITH q AS (SELECT vec_id, {qarr} AS qv FROM embeddings),
c0 AS (SELECT vec_id AS cid, {one} AS sel, qv AS sv, {one} AS n
       FROM q WHERE vec_id = 0 LIMIT 1)"""
    ]
    for r in range(1, FPS_K):
        p = r - 1
        parts.append(f"""
m{r} AS (
  SELECT vec_id, min(d) AS md FROM (
    SELECT {hint}q.vec_id, {dist} AS d FROM q CROSS JOIN c{p} c)
  GROUP BY vec_id),
p{r} AS (SELECT vec_id, md FROM m{r} ORDER BY md DESC, vec_id LIMIT 1),
c{r} AS (
  SELECT cid, sel, sv, n FROM c{p}
  UNION ALL
  SELECT q.vec_id AS cid, CAST({r + 1} AS BIGINT) AS sel, q.qv AS sv, {one} AS n
  FROM q JOIN p{r} ON q.vec_id = p{r}.vec_id)""")
    radii = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS sel, CAST(round(md / {_FPS_DESCALE}) AS BIGINT) AS radius_e6 FROM p{r}"
        for r in range(1, FPS_K)
    )
    return f"""{",".join(parts)},
radii AS (
SELECT CAST(1 AS BIGINT) AS sel, CAST(0 AS BIGINT) AS radius_e6
UNION ALL
{radii})
SELECT c.sel, c.cid, r.radius_e6
FROM c{FPS_K - 1} c JOIN radii r ON c.sel = r.sel
ORDER BY c.sel
"""


def farthest_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center seed set with its coverage-radius ladder.

    DataFrame implementation (the `pagerank_top` / `graph_kcore`
    precedent): the pure-SQL unroll chains ``c{r}`` on ``c{r-1}`` while
    ``m{r}`` ALSO references ``c{r-1}`` — Spark inlines a CTE per
    reference, so the center chain re-expands multiplicatively (36
    embedding-payload scans at FPS_K=4, the audit census' second-worst
    line; the greedy loop is inherently sequential, which is exactly
    the driver-loop deployment shape). Here the quantized corpus is
    PERSISTED once, each selection round is one corpus pass against
    the broadcast ≤FPS_K-row center table with the SAME `_cdist_cols`
    fold string evaluated by `F.expr`, and the per-round argmax is a
    distributed top-1 (TakeOrderedAndProject). Results are
    bit-identical to the SQL form (test-pinned) and oracle-checked.
    """
    from pyspark.sql import functions as F

    _register(spark, sf_dir)
    q = spark.sql(
        f"SELECT vec_id, {_qarr_sql('spark')} AS qv FROM embeddings"
    ).persist()
    dist = _cdist_cols("spark", "q.qv", "c")
    one = F.lit(1).cast("bigint")
    centers = (
        q.filter(F.col("vec_id") == 0)
        .limit(1)
        .select(F.col("vec_id").alias("cid"), one.alias("sel"), F.col("qv").alias("sv"), one.alias("n"))
        .persist()
    )
    radii_rows = [(1, 0)]
    superseded = []  # per-round center caches released before return
    for r in range(1, FPS_K):
        scored = (
            q.alias("q")
            .crossJoin(F.broadcast(centers.alias("c")))
            .select(F.col("q.vec_id").alias("vec_id"), F.expr(dist).alias("d"))
        )
        m = scored.groupBy("vec_id").agg(F.min("d").alias("md"))
        p = (
            m.orderBy(F.desc("md"), "vec_id")
            .limit(1)
            # round IN Spark: SQL round is half-away-from-zero, Python's
            # is half-even — the e6 ladder must match the oracle's bits
            .select(
                "vec_id",
                F.expr(f"CAST(round(md / {_FPS_DESCALE}) AS BIGINT)").alias("radius_e6"),
            )
        )
        # one bounded row: the selected center id + its radius (the
        # documented-bounded collect class — pagerank's scalar precedent)
        picked = p.collect()
        if not picked:
            # degenerate corpus (no vec_id = 0 seed → no centers → no
            # candidates): the SQL form yields the EMPTY relation, so
            # stop selecting — the final join over empty centers
            # produces the same empty result instead of an IndexError
            break
        sel_row = picked[0]
        radii_rows.append((r + 1, sel_row.radius_e6))
        new_center = (
            q.filter(F.col("vec_id") == sel_row.vec_id)
            .select(
                F.col("vec_id").alias("cid"),
                F.lit(r + 1).cast("bigint").alias("sel"),
                F.col("qv").alias("sv"),
                one.alias("n"),
            )
        )
        superseded.append(centers)
        centers = centers.unionAll(new_center).persist()
    # release superseded per-round caches (the returned result needs
    # only q + the FINAL centers; the cd41544 leak discipline)
    for df_ in superseded:
        df_.unpersist()
    radii = spark.createDataFrame(radii_rows, "sel BIGINT, radius_e6 BIGINT")
    return (
        centers.select("sel", "cid")
        .join(radii, "sel")
        .select("sel", "cid", "radius_e6")
        .orderBy("sel")
    )


def farthest_init_sql() -> str:
    return _farthest_init_sql("duckdb")


# ------------------------------------------- threshold operating curve

SWEEP_THRESHOLDS_E2 = (30, 35, 40, 45, 50, 55, 60)  # cosine e2 ladder


def _threshold_sweep_sql(dialect: str) -> str:
    """The dedup-threshold OPERATING CURVE — how a pipeline owner picks
    the knob every near-dup entry fixes at ``COSINE_DUP_THRESHOLD``:
    candidate pairs from the audited sign-LSH chain (the
    ``_embedding_lsh_pairs_sql`` CTEs reused verbatim up to the scoring
    relation — string surgery, the `_semantic_dedup_sql` idiom), then
    ONE pass histograms every pair to the highest ladder threshold it
    clears (a mapper-side CASE), and the per-threshold counts are the
    suffix sums of that <=7-row histogram against the 7-row ladder — the
    pair relation is scanned exactly once no matter how many thresholds
    the ladder holds (the first draft probed pairs once per threshold;
    at the 10x replica, where the fixed-bucket LSH candidate set
    explodes ~15x — the documented `dedup_embedding_lsh` knob row in
    SCALING.md — that multiplied into a 28x wall blowup; the histogram
    form inherits only the candidate chain's own cost). Thresholds live
    as e2 integers (``cosine * 100 >= t_e2`` — no float literals to
    drift); ``monotone_ok`` certifies in-hash that the curve is
    non-increasing in the threshold (a lag over the 7-row ladder).
    """
    base = _embedding_lsh_pairs_sql(dialect)
    prefix = base[: base.rindex("SELECT vec_a, vec_b, cosine FROM scored")].rstrip()
    thr = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS t_e2" for t in SWEEP_THRESHOLDS_E2
    )
    arms = " ".join(
        f"WHEN cosine * 100 >= {t} THEN {t}"
        for t in sorted(SWEEP_THRESHOLDS_E2, reverse=True)
    )
    return f"""{prefix},
thr AS ({thr}),
hist AS (
  SELECT CASE {arms} END AS t_floor, CAST(count(*) AS BIGINT) AS n
  FROM scored GROUP BY 1),
counts AS (
  SELECT t.t_e2, CAST(coalesce(sum(h.n), 0) AS BIGINT) AS n_pairs
  FROM thr t LEFT JOIN hist h ON h.t_floor >= t.t_e2
  GROUP BY t.t_e2)
SELECT t_e2, n_pairs,
       CAST(coalesce(lag(n_pairs) OVER (ORDER BY t_e2) >= n_pairs, TRUE)
            AS BOOLEAN) AS monotone_ok
FROM counts
ORDER BY t_e2
"""


def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair counts across the cosine-threshold ladder, curve certified."""
    _register(spark, sf_dir)
    return spark.sql(_threshold_sweep_sql("spark"))


def threshold_sweep_sql() -> str:
    return _threshold_sweep_sql("duckdb")


# ------------------------------------------- IVF nprobe operating curve

NPROBE_LADDER = (1, 2, 4)  # probe counts swept (IVF_NPROBE = 2 in prod)


def _nprobe_sweep_sql(dialect: str) -> str:
    """The IVF tuning curve — recall@k as a function of ``nprobe``, the
    knob every IVF deployment sweeps before fixing `IVF_NPROBE` (the
    `sim_threshold_sweep` pattern applied to the partition-pruning
    index): candidates are generated ONCE at the ladder's maximum probe
    depth, each tagged with the rank of the FIRST probe cell that
    reaches it, so every smaller nprobe's candidate set is a filter on
    the same scored relation — one corpus pass total, the
    histogram-not-rescan discipline. Per ladder point: hits against the
    exact brute-force top-k (the shared `_recall_vs_brute_sql` metric
    definition) and the exact e6 mean recall; ``monotone_ok`` certifies
    in-hash that recall never falls as nprobe grows (more cells ⊇ fewer
    cells, so the candidate set only grows — top-k reshuffling could in
    principle break it; the certificate MEASURES it).
    """
    div = "div" if dialect == "spark" else "//"
    dot_pair = _dot("q.embedding", "n.embedding", dialect)
    h_probe = "/*+ BROADCAST(p) */ " if dialect == "spark" else ""
    maxp = max(NPROBE_LADDER)
    if dialect == "spark":
        # ONE pass of `scored` and `brute`: the historical per-arm
        # UNION re-planned the whole IVF chain + the brute-force truth
        # per ladder point (Spark inlines — 24 embedding-payload scans,
        # an audit-census headline). Explode the ladder BEFORE ranking:
        # each candidate row fans out to the ladder points whose probe
        # depth reaches it (bounded: |candidates| x |ladder|), rank per
        # (nprobe, query) in one window, count hits once, and LEFT JOIN
        # back onto the literal ladder so an empty arm still emits its
        # 0-hit row exactly like the UNION form. DuckDB keeps the arm
        # UNION byte-for-byte (CTEs materialize there — already one
        # pass).
        # the ladder is a VALUES literal (LocalTableScan — the audit's
        # bounded-build-side marker), so its non-equi join against the
        # candidate set is plan-visibly a bounded broadcast
        lit = ", ".join(f"(CAST({np} AS BIGINT))" for np in NPROBE_LADDER)
        arms = f"""
  SELECT l.nprobe, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
  FROM (SELECT nprobe FROM VALUES {lit} AS t(nprobe)) l
  LEFT JOIN (
    SELECT r.nprobe, CAST(count(b.neighbor_id) AS BIGINT) AS n_hits
    FROM (SELECT l2.nprobe, s.query_id, s.neighbor_id,
                 row_number() OVER (PARTITION BY l2.nprobe, s.query_id
                                    ORDER BY s.cosine DESC, s.neighbor_id) AS rank
          FROM scored s
          JOIN (SELECT nprobe FROM VALUES {lit} AS t(nprobe)) l2
            ON s.first_probe <= l2.nprobe) r
    JOIN brute b ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
    WHERE r.rank <= {TOP_K}
    GROUP BY r.nprobe) h ON h.nprobe = l.nprobe"""
    else:
        arms = "\nUNION ALL\n".join(f"""
  SELECT CAST({np} AS BIGINT) AS nprobe, CAST(count(b.neighbor_id) AS BIGINT) AS n_hits
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored WHERE first_probe <= {np}) r
  JOIN brute b ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
  WHERE r.rank <= {TOP_K}""" for np in NPROBE_LADDER)
    return f"""
WITH {_ivf_cell_ctes(dialect)},
probes_max AS (
  SELECT vec_id AS query_id, label AS cell, rn
  FROM cell_ranked WHERE vec_id < {N_QUERIES} AND rn <= {maxp}),
cand AS (
  SELECT {h_probe}p.query_id, a.vec_id AS neighbor_id,
         CAST(min(p.rn) AS BIGINT) AS first_probe
  FROM probes_max p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, c.first_probe,
         {dot_pair} / sqrt(q.nrm * n.nrm) AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id),
brute AS ({_brute_force_sql(dialect).replace("ORDER BY query_id, rank", "")}),
curve AS ({arms})
SELECT nprobe, n_hits,
       (n_hits * 1000000) {div} {N_QUERIES * TOP_K} AS recall_e6,
       CAST(coalesce(lag(n_hits) OVER (ORDER BY nprobe) <= n_hits, TRUE)
            AS BOOLEAN) AS monotone_ok
FROM curve
ORDER BY nprobe
"""


def nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k per IVF probe depth, curve certified monotone."""
    _register(spark, sf_dir)
    return spark.sql(_nprobe_sweep_sql("spark"))


def nprobe_sweep_sql() -> str:
    return _nprobe_sweep_sql("duckdb")


# ------------------------------------------- PQ distortion report

_PQ_DESCALE = "1e12"  # e18 fold units -> e6 report units


def _pq_distortion_sql(dialect: str) -> str:
    """PQ compression-DISTORTION report — what the code compression
    actually costs in distance fidelity, per query (the capacity-
    planning twin of the recall instruments: recall says "did the
    right ids surface", this says "how wrong are the distances the
    ranking ran on"): for each query's ADC top-k pairs (the audited
    `_pq_adc_sql` CTEs spliced verbatim), the EXACT full-precision
    squared distance is computed by the same fixed-order fold the
    kmeans family uses, and the report is per-query mean ADC vs mean
    exact distance plus the mean |ADC − exact| quantization error, all
    e6-quantized from bit-identical doubles. Plan: the ADC chain +
    one k-pair-per-query fetch join of raw vectors + a query-keyed
    aggregate — the exact fold runs on k pairs per query, never the
    corpus.
    """
    base = _pq_adc_sql(dialect)
    prefix = base[: base.rindex("ranked AS (")].rstrip().rstrip(",") + ","
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        exact = (
            "aggregate(zip_with(qa.qv, qb.qv, (x, y) -> "
            "CAST(x - y AS DOUBLE) * CAST(x - y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    else:
        exact = (
            f"list_reduce(list_transform(range(1, {KMEANS_DIMS + 1}), i -> "
            "CAST(qa.qv[i] - qb.qv[i] AS DOUBLE) * CAST(qa.qv[i] - qb.qv[i] AS DOUBLE)), "
            "(acc, v) -> acc + v)"
        )
    return f"""{prefix}
ranked AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
  FROM scored),
topk AS (SELECT query_id, vec_id, adc FROM ranked WHERE rank <= {TOP_K}),
qv AS (SELECT vec_id, {_qarr_sql(dialect)} AS qv FROM embeddings),
pairs AS (
  SELECT t.query_id, t.vec_id, t.adc, {exact} AS exact_d
  FROM topk t
  JOIN qv qa ON qa.vec_id = t.query_id
  JOIN qv qb ON qb.vec_id = t.vec_id)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(round(adc / {_PQ_DESCALE}) AS BIGINT)) AS BIGINT)
         {div} CAST(count(*) AS BIGINT) AS mean_adc_e6,
       CAST(sum(CAST(round(exact_d / {_PQ_DESCALE}) AS BIGINT)) AS BIGINT)
         {div} CAST(count(*) AS BIGINT) AS mean_exact_e6,
       CAST(sum(abs(CAST(round(adc / {_PQ_DESCALE}) AS BIGINT)
                    - CAST(round(exact_d / {_PQ_DESCALE}) AS BIGINT))) AS BIGINT)
         {div} CAST(count(*) AS BIGINT) AS mean_abs_err_e6
FROM pairs
GROUP BY query_id
ORDER BY query_id
"""


def pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ADC-vs-exact distance distortion over the top-k pairs."""
    _register(spark, sf_dir)
    return spark.sql(_pq_distortion_sql("spark"))


def pq_distortion_sql() -> str:
    return _pq_distortion_sql("duckdb")


# ------------------------------------------- embedding distribution drift

DRIFT_GROUPS = 2  # slices compared: label % 2 (stand-in for two snapshots)


def _embedding_drift_sql(dialect: str) -> str:
    """Embedding-distribution DRIFT between two corpus slices — the
    vector-space twin of `text_keyness` (that one asks which TOKENS
    shifted; this asks whether the embedding cloud itself moved — the
    monitor in front of every retrain-the-index decision): slices are
    label parity (the stand-in for old/new snapshots), per-slice mean
    vectors are exact integer per-dim sums over the e9-quantized
    corpus (one (slice, dim)-keyed aggregate with map-side partials —
    the `sim_kmeans` centroid discipline), and the report is the
    squared distance between the two means plus the single most-
    drifted dimension, everything quantized once at e6 from
    bit-identical integer arithmetic. On isotropic random embeddings
    the drift is ~0 by construction — the instrument pins the
    mechanics; a real drift shows up as dist_e6 >> per-dim noise.
    """
    nd = KMEANS_DIMS
    qarr = _qarr_sql(dialect)
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        series = f"explode(sequence(1, {nd}))"
        elem = "element_at(qv, CAST(dim AS INT))"
    else:
        series = f"unnest(generate_series(1, {nd}))"
        elem = "qv[CAST(dim AS INT)]"
    return f"""
WITH q AS (SELECT vec_id, label, {qarr} AS qv FROM embeddings),
dims AS (
  SELECT CAST(label % {DRIFT_GROUPS} AS BIGINT) AS grp,
         CAST(dim AS BIGINT) AS dim, {elem} AS x
  FROM (SELECT label, qv, {series} AS dim FROM q)),
means AS (
  SELECT grp, dim,
         CAST(sum(x) AS BIGINT) {div} CAST(count(*) AS BIGINT) AS m
  FROM dims GROUP BY grp, dim),
diffs AS (
  SELECT a.dim, a.m - b.m AS d
  FROM means a JOIN means b ON a.dim = b.dim AND a.grp = 0 AND b.grp = 1),
top AS (
  SELECT dim AS top_dim, abs(d) AS top_shift
  FROM diffs ORDER BY abs(d) DESC, dim LIMIT 1),
tot AS (
  SELECT CAST(sum(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) AS DOUBLE) AS dist
  FROM diffs)
SELECT CAST(round(t.dist / 1e12) AS BIGINT) AS dist_e6,
       p.top_dim,
       CAST(round(CAST(p.top_shift AS DOUBLE) / 1e3) AS BIGINT) AS top_shift_e6
FROM tot t CROSS JOIN top p
"""


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row mean-vector drift report between the two label slices."""
    _register(spark, sf_dir)
    return spark.sql(_embedding_drift_sql("spark"))


def embedding_drift_sql() -> str:
    return _embedding_drift_sql("duckdb")


# ------------------------------------------- IVF cell-balance audit


def _ivf_balance_sql(dialect: str) -> str:
    """IVF cell-OCCUPANCY balance audit — the partition-skew readout
    for vector search (the `graph_degree_histogram` story applied to
    the index: a hot cell is a hot partition, and at 100 TB one
    oversized cell decides the probe latency tail): per cell of the
    audited IVF assignment (`_ivf_cell_ctes` spliced — the same cells
    production probes), its occupancy, plus the global min/max/imbalance
    factor (max*cells / corpus at e6 — 1e6 means perfectly balanced)
    cross-joined onto every row. One cell-keyed count over the
    assignment; output is cell-domain bounded.
    """
    div = "div" if dialect == "spark" else "//"
    return f"""
WITH {_ivf_cell_ctes(dialect)},
occ AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_members
  FROM assign GROUP BY cell),
gstat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(min(n_members) AS BIGINT) AS min_occ,
         CAST(max(n_members) AS BIGINT) AS max_occ,
         CAST(sum(n_members) AS BIGINT) AS n_total
  FROM occ)
SELECT o.cell, o.n_members, g.n_cells, g.min_occ, g.max_occ,
       (g.max_occ * g.n_cells * 1000000) {div} g.n_total AS imbalance_e6
FROM occ o CROSS JOIN gstat g
ORDER BY o.cell
"""


def ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell occupancy + global imbalance factor of the IVF index."""
    _register(spark, sf_dir)
    return spark.sql(_ivf_balance_sql("spark"))


def ivf_balance_sql() -> str:
    return _ivf_balance_sql("duckdb")


# ------------------------------------------------- cell-pruned kNN graph

KNN_K = 3  # neighbors kept per vector


def _knn_graph_sql(dialect: str) -> str:
    """k-NN GRAPH construction, cell-pruned: every vector's top-k
    same-cluster neighbors by exact cosine — the build step for
    graph-based ANN (the base layer HNSW/NSG descend) and the
    neighborhood input NN-Descent refines; SemDeDup-family corpus
    analysis consumes the same graph. Candidates come only from the
    vector's own k-means cell (the IVF locality assumption), so cost is
    Σ cell-occupancy² — never all-pairs — and SemDeDup's knob (k grows
    with the corpus, occupancy constant) bounds it at 100 TB. The
    honest recall caveat is the same as every cell-pruned entry: true
    neighbors in OTHER cells are missed; the `sim_ivf_recall` /
    `sim_nprobe_sweep` instruments quantify that trade.

    Reuses the two-Lloyd-round assignment CTEs from ``_kmeans_sql``
    verbatim (string surgery, the ``_semantic_dedup_sql`` idiom) and
    the module's bit-deterministic cosine fold, so ranks and ties
    (cosine DESC, then neighbor id) are identical in both engines.
    """
    km = _kmeans_sql(dialect)
    prefix = km[: km.rindex("SELECT vec_id, cluster FROM a2")].rstrip() + ","
    dot = _dot("x.embedding", "y.embedding", dialect)
    return f"""{prefix}
e AS ({_normed(dialect)}),
mem AS (
  SELECT a.vec_id, a.cluster, e.embedding, e.nrm
  FROM a2 a JOIN e ON a.vec_id = e.vec_id),
pairs AS (
  SELECT x.vec_id AS src, y.vec_id AS dst, x.cluster AS cluster,
         {dot} / sqrt(x.nrm * y.nrm) AS cosine
  FROM mem x JOIN mem y
    ON x.cluster = y.cluster AND x.vec_id <> y.vec_id),
ranked AS (
  SELECT src, dst, cluster, cosine,
         row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM pairs)
SELECT src, dst, cluster, cosine, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {KNN_K}
ORDER BY src, rank
"""


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``KNN_K`` same-cell neighbors per vector (exact cosine)."""
    _register(spark, sf_dir)
    return spark.sql(_knn_graph_sql("spark"))


def knn_graph_sql() -> str:
    return _knn_graph_sql("duckdb")


# --------------------------------------------- HNSW layer assignment

HNSW_MAX_LAYER = 8  # cap (28-bit hash could reach 27 trailing zeros)


def _hnsw_layers_sql(dialect: str) -> str:
    """HNSW layer assignment (Malkov & Yashunin 2018), the index
    SKELETON a distributed graph-ANN build partitions by: each vector
    draws its maximum layer from a geometric distribution, realized
    here exactly and portably as the TRAILING-ZERO COUNT of the
    vector's 28-bit hash (P(layer >= l) = 2^-l — the paper's draw with
    mL = 1/ln 2, no float log anywhere: ``tz = bit_count((h & -h) - 1)``).
    Emits per layer: vector count, cumulative count at-or-above (the
    size of each HNSW level's graph), and the expected count ``n div
    2^(l+1)`` — so the hash match certifies the generator AND the
    exponential decay is auditable row-by-row. `sim_knn_graph` builds
    the base layer's neighborhoods; this entry sizes the upper levels
    (and at 100 TB the at-or-above counts ARE the capacity plan: level
    l's subgraph must fit the navigating tier's memory).

    Scale shape: one narrow hash map over vec ids + one aggregate onto
    a <= ``HNSW_MAX_LAYER + 1``-row layer domain; the cumulative pass
    is a window over that tiny domain.
    """
    from .text import _hash_tok

    key = ("CAST(vec_id AS STRING)" if dialect == "spark"
           else "CAST(vec_id AS VARCHAR)")
    idiv = "div" if dialect == "spark" else "//"
    h = _hash_tok(dialect, key)
    least = "least"
    return f"""
WITH hv AS (SELECT vec_id, {h} AS h FROM embeddings),
layers AS (
  SELECT vec_id,
         CASE WHEN h = 0 THEN {HNSW_MAX_LAYER}
              ELSE {least}(CAST(bit_count((h & -h) - 1) AS BIGINT),
                           {HNSW_MAX_LAYER}) END AS layer
  FROM hv),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM layers),
counts AS (
  SELECT layer, CAST(count(*) AS BIGINT) AS n_vectors
  FROM layers GROUP BY layer)
SELECT c.layer, c.n_vectors,
       CAST(sum(c.n_vectors) OVER (ORDER BY c.layer DESC) AS BIGINT)
         AS n_at_or_above,
       CAST(t.n_total {idiv} (CAST(2 AS BIGINT) << CAST(c.layer AS INT)) AS BIGINT)
         AS expected_n
FROM counts c CROSS JOIN n t
ORDER BY c.layer
"""


def hnsw_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW layer histogram + level sizes from trailing-zero draws."""
    _register(spark, sf_dir)
    return spark.sql(_hnsw_layers_sql("spark"))


def hnsw_layers_sql() -> str:
    return _hnsw_layers_sql("duckdb")


# --------------------------------------------- NN-Descent refinement


def _nn_descent_sql(dialect: str) -> str:
    """One NN-Descent round (Dong, Moses & Li, WWW'11): start from a
    RANDOM initial neighborhood — the paper's init, realized as k
    deterministic hash-offset edges per vector over the dense vec-id
    domain — then gossip: each vector's candidate set is its current
    neighbors, its REVERSE neighbors, and its neighbors' neighbors
    ("a neighbor of a neighbor is likely a neighbor"), scored by exact
    cosine, keeping a new top-``KNN_K``. Emits the refined
    neighborhoods with ``is_new`` marking edges the gossip recovered —
    the per-round convergence signal the paper iterates on until it
    dries up. Complements `sim_knn_graph`: that entry bootstraps from
    k-means cells (corpus-derived k since round 5; SCALING.md measured
    the retired fixed-k blowup); this is the index-free build that
    escapes cells entirely.

    Determinism: init offsets come from the shared md5 hash family
    (``dst = (src + 1 + h % (n-1)) % n`` — never self); the fixture's
    vec ids are dense 0..n-1 (asserted by the offset arithmetic
    itself: a production run first compacts ids or buckets the init by
    hash, same shape). Scale: init is a narrow map + one vec-keyed
    fetch join (n comes from a 1-row broadcast); the gossip candidate
    relation is edge-keyed (<= k + k + k^2 rows per vertex), embedding
    fetch is two vec-keyed joins, top-k is a per-vertex window over a
    constant-bounded row set. No cell-sized or corpus-sized pair set
    anywhere — each round of a 100 TB graph-ANN build pays only this
    edge-keyed cost.
    """
    from .text import _hash_tok

    dot = _dot("x.embedding", "y.embedding", dialect)
    idiv = "div" if dialect == "spark" else "//"
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        series = f"explode(sequence(1, {KNN_K}))"
    else:
        series = f"unnest(generate_series(1, {KNN_K}))"
    key = f"concat(CAST(vec_id AS {s}), ':', CAST(j AS {s}))" if dialect == "spark" \
        else f"CAST(vec_id AS {s}) || ':' || CAST(j AS {s})"
    h = _hash_tok(dialect, key)
    return f"""
WITH e AS ({_normed(dialect)}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e),
probes AS (
  SELECT vec_id AS src, j, {h} AS h
  FROM (SELECT vec_id, {series} AS j FROM e) p),
init AS (
  SELECT DISTINCT p.src,
         (p.src + 1 + p.h % (t.n_vecs - 1)) % t.n_vecs AS dst
  FROM probes p CROSS JOIN n t),
init_scored AS (
  SELECT i.src, i.dst, {dot} / sqrt(x.nrm * y.nrm) AS cosine
  FROM init i
  JOIN e x ON x.vec_id = i.src
  JOIN e y ON y.vec_id = i.dst),
knn0 AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM init_scored),
cand AS (
  SELECT src, dst FROM knn0
  UNION
  SELECT dst AS src, src AS dst FROM knn0
  UNION
  SELECT e1.src, e2.dst
  FROM knn0 e1 JOIN knn0 e2 ON e1.dst = e2.src
  WHERE e2.dst <> e1.src),
scored AS (
  SELECT c.src, c.dst, {dot} / sqrt(x.nrm * y.nrm) AS cosine
  FROM cand c
  JOIN e x ON x.vec_id = c.src
  JOIN e y ON y.vec_id = c.dst),
ranked AS (
  SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM scored)
SELECT r.src, r.dst, r.cosine, CAST(r.rk AS BIGINT) AS rank,
       CAST(o.dst IS NULL AS BOOLEAN) AS is_new
FROM ranked r
LEFT JOIN knn0 o ON o.src = r.src AND o.dst = r.dst
WHERE r.rk <= {KNN_K}
ORDER BY 1, 4
"""


def nn_descent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refined top-``KNN_K`` per vector after one NN-Descent round."""
    _register(spark, sf_dir)
    return spark.sql(_nn_descent_sql("spark"))


def nn_descent_round_sql() -> str:
    return _nn_descent_sql("duckdb")


# --------------------------------------------- hard-negative mining

HARDNEG_K = 3  # negatives kept per anchor


def _hard_negatives_sql(dialect: str) -> str:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): for every anchor vector, the top-``HARDNEG_K``
    most-similar vectors with a DIFFERENT label — near-misses the loss
    learns the most from, versus easy random negatives. Candidates are
    cell-pruned exactly like `sim_knn_graph` (same k-means assignment
    CTEs, same bit-deterministic cosine fold, same tie rule), with the
    label inequality pushed into the pair join — so the mined
    negatives are the hardest IN-CELL ones, and the same corpus-derived
    cell count measured in SCALING.md governs cost.

    Scale shape: identical to the kNN-graph build (Σ cell² pair
    enumeration, vec-keyed fetch joins, per-anchor top-k window);
    the label filter only shrinks the pair set. Output is the
    (anchor, negative) training-pair table a contrastive run reads.
    """
    km = _kmeans_sql(dialect)
    prefix = km[: km.rindex("SELECT vec_id, cluster FROM a2")].rstrip() + ","
    dot = _dot("x.embedding", "y.embedding", dialect)
    return f"""{prefix}
e AS ({_normed(dialect)}),
mem AS (
  SELECT a.vec_id, a.cluster, e.label, e.embedding, e.nrm
  FROM a2 a JOIN e ON a.vec_id = e.vec_id),
pairs AS (
  SELECT x.vec_id AS anchor, x.label AS anchor_label,
         y.vec_id AS negative, y.label AS negative_label,
         {dot} / sqrt(x.nrm * y.nrm) AS cosine
  FROM mem x JOIN mem y
    ON x.cluster = y.cluster AND x.label <> y.label),
ranked AS (
  SELECT anchor, anchor_label, negative, negative_label, cosine,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY cosine DESC, negative) AS rk
  FROM pairs)
SELECT anchor, anchor_label, negative, negative_label, cosine,
       CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {HARDNEG_K}
ORDER BY anchor, rank
"""


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-label in-cell negatives per anchor (exact cosine)."""
    _register(spark, sf_dir)
    return spark.sql(_hard_negatives_sql("spark"))


def hard_negatives_sql() -> str:
    return _hard_negatives_sql("duckdb")


# --------------------------------------------- delete-aware search

DELETE_MOD = 10  # tombstoned vectors: vec_id % DELETE_MOD == 3 (10%)


def _delete_aware_sql(dialect: str) -> str:
    """Deletion-aware vector search — the index-maintenance reality
    check every ANN deployment hits (GDPR erasure, recalled documents,
    churned users): 10% of the corpus is tombstoned (a deterministic
    id-residue set standing in for the delete log), and the top-k
    query must never return a deleted id, WITHOUT rebuilding anything:
    the tombstone set is anti-joined into the scoring pass (at scale:
    a broadcast bloom/roaring filter on the posting scan — the
    documented knob). Emits per (query, rank): the surviving
    neighbor, its cosine, plus how many of the UNFILTERED top-k had
    been deleted (the per-query index-decay readout, exactly the
    number that schedules a physical rebuild).

    Scale shape: `sim_cosine_topk`'s plan (tiny query side broadcast,
    corpus never shuffled) + one residue predicate in the scan and a
    second rank over the unfiltered scores — both mapper-side.
    """
    dot = _dot("q.embedding", "c.embedding", dialect)
    hint = "/*+ BROADCAST(q) */ " if dialect == "spark" else ""
    return f"""
WITH e AS ({_normed(dialect)}),
qs AS (SELECT * FROM e WHERE vec_id < {N_QUERIES} LIMIT {N_QUERIES}),
scored AS (
  SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(c.vec_id % {DELETE_MOD} = 3 AS BOOLEAN) AS is_deleted,
         {dot} / sqrt(q.nrm * c.nrm) AS cosine
  FROM qs q JOIN e c ON q.vec_id <> c.vec_id),
ranked_all AS (
  SELECT query_id, is_deleted,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored),
decay AS (
  SELECT query_id,
         CAST(sum(CASE WHEN is_deleted THEN 1 ELSE 0 END) AS BIGINT)
           AS deleted_in_topk
  FROM ranked_all WHERE rank <= {TOP_K} GROUP BY query_id),
ranked_live AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored WHERE NOT is_deleted)
SELECT r.query_id, r.neighbor_id, CAST(r.rank AS BIGINT) AS rank,
       r.cosine, d.deleted_in_topk
FROM ranked_live r JOIN decay d ON d.query_id = r.query_id
WHERE r.rank <= {TOP_K}
ORDER BY r.query_id, r.rank
"""


def delete_aware_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-filtered top-k + per-query index-decay counter."""
    _register(spark, sf_dir)
    return spark.sql(_delete_aware_sql("spark"))


def delete_aware_search_sql() -> str:
    return _delete_aware_sql("duckdb")
