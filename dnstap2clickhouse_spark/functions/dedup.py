"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash — all over ``documents``.

All hashing is md5-derived so Spark and the DuckDB oracle compute
bit-identical signatures (Spark ``conv(substring(md5 ...), 16, 10)`` ==
DuckDB ``('0x' || substr(md5 ...))::BIGINT``), and every scoring division
is exact-int / exact-int. Each builder emits the SAME logical SQL in both
dialects (tiny lexical differences: explode/unnest, shift operators).

Scale design (the part that matters at 100 TB):

- exact/bag dedup: one hash-groupBy — minimal shuffle, AQE-coalesced.
- n-gram Jaccard is the *exact* quadratic path — the shingle self-join
  explodes at scale; it exists as the small-data ground truth and the
  verifier for LSH candidates, not as the scale path.
- MinHash+LSH is the scale path: per-doc signatures (narrow transforms),
  band keys, then a join keyed on (band, signature) whose output is only
  same-bucket pairs — candidate count ~ O(near-dup pairs), not O(n^2).
  8 bands x 2 rows over 16 hashes => ~90% recall at Jaccard 0.5, ~100%
  at 0.8+.
- SimHash: 60-bit signature per doc via bitwise vote over token hashes —
  narrow transform; pair finding joins on signature (or banded prefix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, materialize_scan
from .text import _hash_tok, _toks

#: MinHash banding is a QUALITY parameter, not a scale one: (bands, rows)
#: pin the LSH S-curve threshold t ≈ (1/b)^(1/r) — 8 bands x 2 rows ≈
#: 0.35, a recall-leaning catch-all below JACCARD_THRESHOLD=0.5 so the
#: exact-Jaccard verify stage (not the banding) decides. Unlike cell
#: counts / bucket widths (corpus-derived in-plan since round 5), bands
#: must NOT grow with the corpus — candidate mass is governed by the
#: corpus's near-dup pair structure. The generators below take them as
#: parameters (defaults = the contract-pinned values) so a deployment
#: re-derives (b, r) from ITS threshold via the formula without editing
#: the module; `dedup_band_sweep` measures the trade in-engine.
N_HASHES = 16
BANDS = 8  # => 2 rows per band
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 60

def _register(spark: SparkSession, sf_dir: str) -> None:
    """Register ``documents``, spreading narrow CPU work when the scan is
    under-partitioned.

    The dedup chain is hash-heavy *map* work (md5 per shingle); a small
    corpus arriving as one parquet file would pin all of it on one core.
    When the scan has fewer splits than the cluster has slots, one cheap
    shuffle of the raw rows buys full map parallelism. At real scale the
    scan has >= slots splits and this is a no-op — no extra shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    slots = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < slots:
        docs = docs.repartition(slots)
    docs.createOrReplaceTempView("documents")

def _shingle_expr(dialect: str) -> str:
    """Distinct word 3-gram shingle ARRAY per document.

    Spark flavor builds shingles with slice+zip_with so the ``split``
    tokenization is evaluated O(1) times per row — an index lambda
    (``element_at(split(text), i)``) would re-tokenize the document for
    every shingle position (~300x per doc; measured 10x slowdown at
    sf0.1, and higher-order functions don't get codegen CSE).
    DuckDB flavor keeps the index form: same result, and the oracle only
    runs at sf<=0.01.
    """
    toks = _toks(dialect)
    if dialect == "spark":
        n2 = f"size({toks}) - {SHINGLE_K - 1}"
        pair = f"zip_with(slice({toks}, 1, {n2}), slice({toks}, 2, {n2}), (x, y) -> concat(x, ' ', y))"
        tri = f"zip_with({pair}, slice({toks}, 3, {n2}), (x, y) -> concat(x, ' ', y))"
        return (
            f"CASE WHEN size({toks}) < {SHINGLE_K} THEN array_distinct({toks}) "
            f"ELSE array_distinct({tri}) END"
        )
    gram = f"({toks})[i] || ' ' || ({toks})[i+1] || ' ' || ({toks})[i+2]"
    return (
        f"CASE WHEN len({toks}) < {SHINGLE_K} THEN list_distinct({toks}) "
        f"ELSE list_distinct(list_transform(generate_series(1, len({toks}) - {SHINGLE_K - 1}), i -> {gram})) END"
    )

def _shingle_rows(dialect: str) -> str:
    """(doc_id, sh): exploded distinct shingle rows per document."""
    flat = "explode" if dialect == "spark" else "unnest"
    return f"SELECT doc_id, {flat}({_shingle_expr(dialect)}) AS sh FROM documents"

# ------------------------------------------------------------- exact dedup

def _bag_key_expr(dialect: str) -> str:
    """md5 of the sorted token list — THE exact-dedup identity key,
    shared by ``exact_dedup`` and the Bloom pre-screen (whose
    no-false-negative guarantee holds only while both use the one
    expression)."""
    toks = _toks(dialect)
    if dialect == "spark":
        return f"md5(concat_ws(' ', array_sort({toks})))"
    return f"md5(array_to_string(list_sort({toks}), ' '))"


def exact_dedup_sql(dialect: str = "duckdb") -> str:
    bag = _bag_key_expr(dialect)
    return f"""
SELECT bag_key, min(doc_id) AS canonical_id, count(*) AS n_members
FROM (SELECT doc_id, {bag} AS bag_key FROM documents)
GROUP BY bag_key ORDER BY bag_key
"""

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the bag-of-words key (md5 of the sorted token list):
    catches byte-identical texts AND word-order shuffles; one shuffle."""
    _register(spark, sf_dir)
    return spark.sql(exact_dedup_sql("spark"))

# --------------------------------------------------- n-gram Jaccard (exact)

def ngram_jaccard_pairs_sql(dialect: str = "duckdb") -> str:
    """The EXACT ground-truth verifier the oracle pins: the self-join
    shuffles on the shingle, so one shingle appearing in ``f`` documents
    contributes O(f^2) candidate rows — deliberately quadratic-risk,
    quarantined from the production chain and named in
    ``tools/audit_plans.py``'s DECLARED waivers."""
    return f"""
WITH s AS ({_shingle_rows(dialect)}),
n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       CAST(common AS DOUBLE) / (x.ns + y.ns - common) AS jaccard
FROM pair JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
WHERE CAST(common AS DOUBLE) / (x.ns + y.ns - common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by 3-gram Jaccard — ground truth / verifier.
    Shuffle key is the shingle; hot shingles are the skew risk the LSH
    path avoids."""
    _register(spark, sf_dir)
    return spark.sql(ngram_jaccard_pairs_sql("spark"))

# ----------------------------------------------------------- MinHash + LSH

_MINHASH_P = 2_147_483_647  # 2^31-1; base hash is 28-bit so no overflow

#: affine MinHash family h_i(x) = (A_i * x + 7919*i) mod P. The
#: multipliers are Lehmer powers 48271^(i+1) mod P — large enough that
#: the mod wraps and scrambles order per i. The original family used
#: A_i = 2i+1: for base hashes small enough that (2i+1)*x never wraps,
#: every h_i is MONOTONE in x, so all 16 "permutations" shared one
#: argmin and the signature collapsed to a single effective hash —
#: exposed by the `dedup_minhash_accuracy` instrument (est 1.0 vs exact
#: ~0.01 on band-colliding pairs) and fixed by these multipliers.
_MH_A = tuple(pow(48_271, i + 1, _MINHASH_P) for i in range(N_HASHES))
_MH_A_CSV = ", ".join(str(a) for a in _MH_A)

def _shingle_arrays(dialect: str) -> str:
    """(doc_id, shingle-array) — the arrays stay per-row; no explode."""
    return f"SELECT doc_id, {_shingle_expr(dialect)} AS sh FROM documents"

def _minhash_vec_expr() -> str:
    """Spark: the full 16-minhash vector in ONE traversal of the base-hash
    array. ``aggregate`` keeps running elementwise minima for all 16 affine
    functions h_i(x) = (A_i*x + 7919*i) mod 2^31-1 at once; the array is
    the aggregate's input (outside any lambda body), so the md5 hashing of
    shingles evaluates exactly once per doc — lambda bodies get no CSE, and
    a nested ``transform(sequence, i -> array_min(transform(hs, ...)))``
    re-hashes per index (measured 6x slower). NULL init mirrors
    ``array_min`` over an empty array."""
    init = f"transform(sequence(0, {N_HASHES - 1}), i -> CAST(NULL AS BIGINT))"
    return (
        f"aggregate(hs, {init}, "
        f"(acc, h) -> zip_with(acc, sequence(0, {N_HASHES - 1}), "
        f"(m, i) -> least(m, (element_at(array({_MH_A_CSV}), CAST(i + 1 AS INT)) * h "
        f"+ 7919 * i) % {_MINHASH_P})))"
    )

def _minhash_sql(dialect: str) -> str:
    """(doc_id, hidx, minhash): N_HASHES min-hashes per doc.

    Scale design: ONE md5 per distinct shingle (28-bit base hash), then
    the affine family evaluated in a single array traversal (Spark; see
    ``_minhash_vec_expr``) — the whole signature computation is a narrow
    per-row map, no shuffle, and the only row expansion is the final
    16-way posexplode into the (doc_id, hidx, minhash) contract rows.
    """
    sh = _shingle_arrays(dialect)
    if dialect == "spark":
        base = "transform(sh, s -> " + _hash_tok("spark", "s") + ")"
        return f"""
WITH s AS ({sh}),
hb AS (SELECT doc_id, {base} AS hs FROM s),
sigs AS (SELECT doc_id, {_minhash_vec_expr()} AS mh FROM hb)
SELECT doc_id, hidx, minhash
FROM sigs LATERAL VIEW posexplode(mh) t AS hidx, minhash
"""
    base = "list_transform(sh, s -> " + _hash_tok("duckdb", "s") + ")"
    series = f"SELECT unnest(generate_series(0, {N_HASHES - 1})) AS hidx"
    return f"""
WITH s AS ({sh}),
hb AS (SELECT doc_id, {base} AS hs FROM s),
idx AS ({series})
SELECT doc_id, hidx,
       list_min(list_transform(hs, h -> (([{_MH_A_CSV}])[hidx + 1] * h + 7919 * hidx) % {_MINHASH_P})) AS minhash
FROM hb CROSS JOIN idx
"""

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature rows (doc_id, hidx, minhash) — bit-identical to
    the oracle's md5-derived hash family."""
    _register(spark, sf_dir)
    return spark.sql(_minhash_sql("spark") + " ORDER BY doc_id, hidx")

def minhash_signatures_sql() -> str:
    return _minhash_sql("duckdb") + " ORDER BY doc_id, hidx"

def _lsh_pairs_sql(dialect: str, bands: int = BANDS) -> str:
    """Banded MinHash-LSH candidate pairs. ``bands`` is the S-curve knob
    (threshold ≈ (1/b)^(b/N_HASHES), b must divide the N_HASHES-wide
    signature); the default is the contract-pinned value, callers with a
    different target threshold pass their own banding."""
    if N_HASHES % bands:
        raise ValueError(f"bands={bands} must divide N_HASHES={N_HASHES}")
    rows_per_band = N_HASHES // bands
    if dialect == "spark":
        # Narrow signature construction (see ``_minhash_vec_expr``): the
        # md5+minhash work is one traversal per doc, band signatures are
        # slices of the materialized `mh` column ABOVE the explode barrier
        # (Generate output can't be collapsed into its child projection),
        # and the only row expansion is the trivial 8-band explode. The
        # previous per-(doc,band) collect_list groupBy — a full shuffle of
        # 16 rows/doc — disappears: the first shuffle in the plan is the
        # candidate join itself. At 100 TB that's one wide stage, not two.
        #
        # SHUFFLE_HASH on the self-join (r10): Catalyst inlines the
        # ``bands`` CTE into BOTH join sides, so with the size-triggered
        # BroadcastHashJoin the whole shingle+md5+minhash subtree was
        # EXECUTED TWICE (once per side) and one full corpus-derived copy
        # was collected through the driver per action (measured at the
        # 10x replica: warm 2.2 s, with 5-8.5 s broadcast-build spikes).
        # Hinted, both sides shuffle on (band, sig); the two exchange
        # subtrees canonicalize identically, so AQE computes the map
        # stage ONCE and feeds both sides (final plan: ReusedExchange)
        # — 1.69 s stable, and the local plan now matches the 100 TB
        # plan (no corpus-derived broadcast exists to outgrow a
        # threshold). Identical output: join strategy only.
        #
        # SKEW ASSUMPTION (r11, VERDICT item 4 / ADVICE): (band, sig)
        # is skewed BY CONSTRUCTION on near-dup-heavy corpora (every
        # member of a duplicate family lands in one bucket per band),
        # and a hinted SHJ builds that bucket's hash map in memory. The
        # mitigations, in order: (1) AQE skew-join splitting DOES apply
        # to a hinted ShuffledHashJoin in this Spark version, including
        # with both sides reading the one ReusedExchange — proven on a
        # synthetic hot-band corpus (3,000 identical docs;
        # ShuffledHashJoin(skew=true) + "AQEShuffleRead coalesced and
        # skewed" in plans/r11/dedup_minhash_lsh_skewed_executed.txt,
        # pinned by tests/test_round11_opt.py::test_aqe_skew_split_
        # applies_to_hinted_shuffle_hash). session.py enables
        # spark.sql.adaptive.skewJoin; production keeps the default
        # 256MB/5x trigger thresholds (the capture lowers them only
        # because an 8,000-doc corpus cannot reach 256MB). (2) The
        # build side of each split is ONE bucket's rows — rows are
        # (doc_id, band, 2-int sig), so even a 10M-member family is
        # ~400MB of build map per split after AQE splits the partition.
        # (3) Interleaved replica measurement (r11): a MERGE-hinted SMJ
        # — which sorts/spills instead of building maps and keeps the
        # same ReusedExchange — is timing-equivalent (min 1.79 vs
        # 1.86 s), so deployments expecting degenerate corpora (one
        # family ~ executor memory) can flip the hint to MERGE without
        # losing the exchange reuse; the contract keeps SHUFFLE_HASH
        # because its map build is cheaper on the common (split-sized)
        # case and the skew split is proven to engage.
        sh = _shingle_arrays("spark")
        base = "transform(sh, s -> " + _hash_tok("spark", "s") + ")"
        return f"""
WITH s AS ({sh}),
hb AS (SELECT doc_id, {base} AS hs FROM s),
sigs AS (SELECT doc_id, {_minhash_vec_expr()} AS mh FROM hb),
bands AS (
  SELECT doc_id, b AS band, slice(mh, b * {rows_per_band} + 1, {rows_per_band}) AS sig
  FROM sigs LATERAL VIEW explode(sequence(0, {bands - 1})) t AS b)
SELECT /*+ SHUFFLE_HASH(a, b) */ DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""
    # DuckDB oracle keeps the row-wise form (runs only at sf<=0.01); the
    # banded (band, sig) equality semantics are identical.
    mh = _minhash_sql(dialect)
    agg = "string_agg(CAST(hidx AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), ',' ORDER BY hidx)"
    band = f"hidx // {rows_per_band}"
    return f"""
WITH mh AS ({mh}),
bands AS (
  SELECT doc_id, {band} AS band, {agg} AS sig
  FROM mh GROUP BY doc_id, {band})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""

def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH (the scale path)."""
    _register(spark, sf_dir)
    return spark.sql(_lsh_pairs_sql("spark") + " ORDER BY doc_a, doc_b")

def minhash_lsh_pairs_sql() -> str:
    return _lsh_pairs_sql("duckdb") + " ORDER BY doc_a, doc_b"

# ------------------------------------------- LSH candidates -> verification
#
# The production near-dup pipeline is candidates -> verify -> cluster ->
# keep-one. The pieces below complete it on top of ``minhash_lsh_pairs``.

def _lsh_verified_sql(dialect: str) -> str:
    """LSH candidate pairs verified with EXACT Jaccard — but only on the
    candidates, never all pairs.

    The shingle arrays are fetched by two equi-joins keyed on doc_id
    (array intersection per candidate pair, ``array_intersect``/
    ``list_intersect`` over already-distinct arrays), so the exact
    verification costs O(candidates), while ``ngram_jaccard_pairs`` —
    the all-pairs ground truth — costs O(n^2) shingle-join rows. This is
    the form that survives 100 TB: the quadratic stage is gone and the
    two fetch joins shuffle only candidate keys against the corpus.
    Jaccard = exact-int / exact-int in both dialects (bit-identical)."""
    cand = _lsh_pairs_sql(dialect)
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    return f"""
WITH cand AS ({cand}),
sh AS ({sh}),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST({size}({inter}(a.sh, b.sh)) AS DOUBLE)
           / ({size}(a.sh) + {size}(b.sh) - {size}({inter}(a.sh, b.sh))) AS jaccard
  FROM cand c
  JOIN sh a ON c.doc_a = a.doc_id
  JOIN sh b ON c.doc_b = b.doc_id)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= {JACCARD_THRESHOLD}
"""

def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs, computed only on LSH
    candidates (the scale-correct two-stage form)."""
    _register(spark, sf_dir)
    return spark.sql(_lsh_verified_sql("spark") + " ORDER BY doc_a, doc_b")

def lsh_verified_pairs_sql() -> str:
    return _lsh_verified_sql("duckdb") + " ORDER BY doc_a, doc_b"

# -------------------------------------- connected components -> canonical

_CC_MAX_ITERS = 25  # soft floor; the real bound is |V| (diameter < |V|)
_CKPT_EVERY = 3  # lineage-truncation cadence (see propagate_min_labels)

#: Salt factor for the pointer-jump self-join (round-5 giant-component
#: guard). As a component converges, EVERY member's ``cluster_id`` is the
#: same root id — so the jump join's left side piles that one key onto
#: one task (a 10M-member near-dup component = a 10M-row straggler
#: partition at 100 TB). The parent side is replicated ``CC_JUMP_SALT``
#: ways keyed (p_id, salt) and each member picks salt =
#: xxhash64(doc_id) % SALT, spreading any single label across SALT
#: tasks. Cost: the parent shuffle grows SALT x over label-sized rows
#: (16-byte pairs) — constant, corpus-independent; AQE's skew-join split
#: (enabled in session.py) is the runtime second line of defense for
#: skew beyond SALT x task capacity.
CC_JUMP_SALT = 8

def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id): connected components over the verified
    near-dup graph; cluster_id = min doc_id in the component.

    Spark-first iterative algorithm (no GraphX/graphframes dependency):
    min-label propagation. Each iteration is one shuffle — join the
    current labels onto the symmetric edge list, take min neighbor label
    per vertex — and converges in graph-diameter iterations. Near-dup
    components are short chains (diameter rarely >4), so this is 2-5
    rounds in practice; ``localCheckpoint`` truncates lineage each round
    so the plan doesn't grow with iterations (the standard Spark
    iterative-algorithm discipline). Convergence is detected by counting
    changed labels (one action per round — required for any fixpoint
    loop; the data that moves is one label per vertex, not the corpus).
    """
    _register(spark, sf_dir)
    pairs = spark.sql(_lsh_verified_sql("spark")).select("doc_a", "doc_b")
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return propagate_min_labels(labels, pairs)

def _job_group_shuffle_bytes(spark, group: str) -> int:
    """Total shuffle-write bytes of every stage run under ``group`` —
    read from the JVM AppStatusStore (collected even with the UI off).
    Observability for the CC fixture tests: per-round shuffle volume is
    the quantity the giant-component guard bounds."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                total += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Exception:
                pass  # skipped/cached stage has no attempt data
    return total


def propagate_min_labels(
    labels: DataFrame,
    pairs: DataFrame,
    rounds_out: list[int] | None = None,
    shuffle_bytes_out: list[int] | None = None,
) -> DataFrame:
    """Min-label propagation *with pointer jumping* to fixpoint.

    ``labels`` = (doc_id, cluster_id) initial assignment (identity);
    ``pairs`` = (doc_a, doc_b) undirected edges. See ``_cc_labels`` for
    the scale rationale. If ``rounds_out`` is given, the number of
    executed rounds is appended (observability for the convergence
    tests).

    Each round combines TWO monotone label-lowering steps before the
    fixpoint check:

    1. *neighbor min* — min label over graph neighbors (the plain
       propagation step; alone it needs graph-DIAMETER rounds, which is
       fine for near-dup cliques but pathological on chain-shaped
       components: a 100-link chain = 100 shuffles);
    2. *pointer jump* — ``label(label(v))``: a self-join of the label
       table treating ``cluster_id`` as a parent pointer. Labels are
       always doc ids, so the pointer chain is well-defined, and jumping
       doubles the distance a label has travelled every round — the
       classic pointer-doubling argument bounds total rounds by
       O(log diameter) (same recurrence as the large-star/small-star
       contraction of Kiveris et al., "Connected Components in MapReduce
       and Beyond", without rewriting the edge list). Measured on a
       100-edge chain (diameter 100): 9 rounds vs 100. The jump join is
       SALTED (``CC_JUMP_SALT``): a giant component funnels one label
       key onto one task otherwise — see the constant's docstring and
       the clique+chain fixture test measuring rounds and per-round
       shuffle bytes.

    ``shuffle_bytes_out``: when given, per-round shuffle-write bytes are
    appended (one int per executed round, from the JVM status store).

    Both steps shuffle label-sized rows only (plus the static edge list
    for step 1); the corpus never moves. Convergence is detected by
    counting changed labels (one action per round — required for any
    fixpoint loop).

    Checkpoint cadence: ``localCheckpoint`` every ``_CKPT_EVERY`` rounds
    rather than every round — a checkpoint per round pins one (vertex,
    label) RDD copy per iteration in executor storage until a full GC
    (the in-session outlier documented in SCALING.md), while the
    recompute between checkpoints is at most ``_CKPT_EVERY`` small joins
    over label-sized rows. Iteration bound: diameter < vertex count
    always, so the loop is capped at |V| (with the soft ``_CC_MAX_ITERS``
    floor); hitting it means a genuine bug, hence the raise."""
    edges = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF(
        "src", "dst"
    ).localCheckpoint()
    labels = labels.localCheckpoint()
    spark = labels.sparkSession
    salts = F.array(*[F.lit(s) for s in range(CC_JUMP_SALT)])
    max_iters = max(_CC_MAX_ITERS, labels.count())
    for i in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # salted pointer jump: parent replicated CC_JUMP_SALT ways on
        # (p_id, salt); each member hashes onto one salt — a converged
        # giant component's single hot label spreads across SALT tasks
        parent = labels.select(
            F.col("doc_id").alias("p_id"),
            F.col("cluster_id").alias("p_lab"),
            F.explode(salts).alias("p_salt"),
        )
        updated = (
            labels.join(nbr_min, "doc_id", "left")
            .withColumn(
                "salt",
                F.pmod(F.xxhash64("doc_id"), F.lit(CC_JUMP_SALT)).cast("int"),
            )
            .join(
                parent,
                (F.col("cluster_id") == F.col("p_id"))
                & (F.col("salt") == F.col("p_salt")),
                "left",
            )
            .select(
                "doc_id",
                F.least("cluster_id", "nbr_min", "p_lab").alias("cluster_id"),
                (
                    F.least("nbr_min", "p_lab") < F.col("cluster_id")
                ).alias("changed"),
            )
        )
        # the round's actions (eager localCheckpoint + the changed count)
        # run under one job group so per-round shuffle volume is readable
        # from the status store
        group = f"cc_round_{id(labels)}_{i}"
        if shuffle_bytes_out is not None:
            spark.sparkContext.setJobGroup(group, "cc round", False)
        try:
            if i % _CKPT_EVERY == _CKPT_EVERY - 1:
                updated = updated.localCheckpoint()
            changed = updated.filter("changed").count()
        finally:
            if shuffle_bytes_out is not None:
                spark.sparkContext.setJobGroup("", "", False)
        if shuffle_bytes_out is not None:
            shuffle_bytes_out.append(_job_group_shuffle_bytes(spark, group))
        labels = updated.select("doc_id", "cluster_id")
        if changed == 0:
            if rounds_out is not None:
                rounds_out.append(i + 1)
            return labels
    raise RuntimeError(
        f"connected components did not converge in {max_iters} iterations"
    )

def _cc_reach_sql() -> str:
    """DuckDB oracle: min reachable label via recursive CTE (the recursive
    UNION dedups rows, so propagation terminates on cycles)."""
    cand = _lsh_verified_sql("duckdb")
    return f"""
WITH RECURSIVE
cand AS ({cand}),
e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.doc_id)
"""

def cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment for every document."""
    return _cc_labels(spark, sf_dir).orderBy("doc_id")

def cc_clusters_sql() -> str:
    return (
        _cc_reach_sql()
        + "SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id ORDER BY doc_id"
    )

def canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: one row per cluster, carrying the
    canonical (min-id) document's metadata plus the duplicate count —
    the actual output a training-data pipeline writes.

    Post-clustering this is one small groupBy on cluster_id plus one
    equi-join back to the corpus on the canonical id — both shuffles are
    O(#clusters), bounded by corpus size."""
    labels = _cc_labels(spark, sf_dir)
    members = labels.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        (F.count("*") - F.lit(1)).alias("n_dups_removed"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        members.join(docs, members.cluster_id == docs.doc_id)
        .select("doc_id", "source", "n_chars", "n_members", "n_dups_removed")
        .orderBy("doc_id")
    )

def canonical_corpus_sql() -> str:
    return (
        _cc_reach_sql()
        + f""",
labels AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id),
members AS (
  SELECT cluster_id, count(*) AS n_members, count(*) - 1 AS n_dups_removed
  FROM labels GROUP BY cluster_id)
SELECT d.doc_id, d.source, d.n_chars, m.n_members, m.n_dups_removed
FROM members m JOIN documents d ON m.cluster_id = d.doc_id
ORDER BY d.doc_id
"""
    )

# ----------------------------------------------------------------- SimHash

def simhash_signatures_sql(dialect: str = "duckdb") -> str:
    toks = _toks(dialect)
    h = _hash_tok(dialect, "tok")
    if dialect == "spark":
        tok_rows = f"SELECT doc_id, explode(array_distinct({toks})) AS tok FROM documents"
        series = f"explode(sequence(0, {SIMHASH_BITS - 1}))"
        bit_test = f"shiftright({h}, bit) & 1 = 1"
        bit_val = "shiftleft(CAST(1 AS BIGINT), bit)"
    else:
        tok_rows = f"SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents"
        series = f"unnest(generate_series(0, {SIMHASH_BITS - 1}))"
        bit_test = f"(({h}) >> bit) & 1 = 1"
        bit_val = "(CAST(1 AS BIGINT) << bit)"
    return f"""
WITH t AS ({tok_rows}),
tb AS (SELECT doc_id, tok, {series} AS bit FROM t),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN {bit_test} THEN 1 ELSE -1 END) AS v
  FROM tb GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(sum(CASE WHEN v >= 0 THEN {bit_val} ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""

def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (bitwise vote over distinct-token
    hashes)."""
    _register(spark, sf_dir)
    return spark.sql(simhash_signatures_sql("spark"))

SIMHASH_HAMMING_MAX = 3  # near-dup threshold
SIMHASH_BANDS = SIMHASH_HAMMING_MAX + 1  # pigeonhole: <=3 flips -> 1 equal band
_SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1

def simhash_pairs_sql(dialect: str = "duckdb") -> str:
    """Near-dup pairs from SimHash signatures, LSH-banded.

    Pigeonhole: hamming(a, b) <= 3 implies at least one of the 4
    disjoint 15-bit bands is bit-identical, so candidate generation is a
    UNION of per-band equi-joins on (band, band_value) — the same
    O(colliding pairs) shape as the MinHash banding, never all-pairs.
    Verification is exact: bit_count(xor) <= 3 on the 60-bit signatures,
    per candidate. At 100 TB the band value is the natural bucket/
    partition key for the signature table.

    SHUFFLE_HASH on the self-join (r10, same reasoning as
    ``_lsh_pairs_sql``): both sides shuffle on (band, bval) with
    canonically identical subtrees, so AQE computes the SimHash
    signature map stage once (ReusedExchange) instead of once per join
    side, and no corpus-derived broadcast exists at any scale.
    """
    sigs = simhash_signatures_sql(dialect).replace("ORDER BY doc_id", "")
    if dialect == "spark":
        series = f"explode(sequence(0, {SIMHASH_BANDS - 1}))"
        bval = f"shiftright(simhash, band * {_SIMHASH_BAND_BITS}) & {_SIMHASH_BAND_MASK}"
        ham = "bit_count(a.simhash ^ b.simhash)"
    else:
        series = f"unnest(generate_series(0, {SIMHASH_BANDS - 1}))"
        bval = f"(simhash >> (band * {_SIMHASH_BAND_BITS})) & {_SIMHASH_BAND_MASK}"
        ham = "bit_count(xor(a.simhash, b.simhash))"
    return f"""
WITH sigs AS ({sigs}),
bands AS (
  SELECT doc_id, simhash, band, {bval} AS bval
  FROM (SELECT doc_id, simhash, {series} AS band FROM sigs)),
cand AS (
  SELECT {"/*+ SHUFFLE_HASH(a, b) */ " if dialect == "spark" else ""}DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST({ham.replace('a.simhash', 'sig_a').replace('b.simhash', 'sig_b')} AS BIGINT) AS hamming
FROM cand
WHERE {ham.replace('a.simhash', 'sig_a').replace('b.simhash', 'sig_b')} <= {SIMHASH_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""

def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-verified SimHash near-dup pairs (banded candidates)."""
    _register(spark, sf_dir)
    return spark.sql(simhash_pairs_sql("spark"))

# -------------------------------------------------- incremental ingest

#: the "arriving batch" in the incremental demo: one source partition (a
#: crawl snapshot / date partition in production), picked IN-QUERY as the
#: lexicographic max source so the entry survives test-corpus
#: regenerations that change the source count — a hardcoded name would
#: silently degrade to a 0-row batch (both dialects fold the same scalar
#: subquery, so the oracle stays exact)
INGEST_SOURCE_SQL = "(SELECT max(source) FROM documents)"

def incremental_ingest_sql(dialect: str = "duckdb") -> str:
    """Dedup an ARRIVING batch against the EXISTING corpus — the
    production incremental-ingest shape (one-shot corpus dedup answers
    "what do I keep"; ingest answers "is this new doc already there").

    Candidate generation is the same banded MinHash join as
    ``minhash_lsh_pairs`` but ONE-SIDED: new-batch band rows probe
    existing-corpus band rows, so candidate count is O(new-batch
    near-dups) and the existing corpus is never self-joined. Exact
    Jaccard verifies candidates (two doc_id fetch-joins, as in
    ``_lsh_verified_sql``); each new doc reports its best existing match
    and an admit/reject flag.

    At 100 TB the corpus band table is the persisted LSH index (bucketed
    on (band, sig)); a daily batch probes it with one co-bucketed join —
    this query is exactly that plan at test scale.
    """
    pairs = _lsh_pairs_sql(dialect)
    # reuse the banded CTE bodies, re-sided: swap the self-join tail for a
    # new-vs-existing join (string surgery on the shared prefix keeps the
    # band/signature construction literally identical to the audited path;
    # the tail marker tolerates the Spark dialect's SHUFFLE_HASH hint)
    tail = pairs.index("SELECT /*+") if "SELECT /*+" in pairs else pairs.index("SELECT DISTINCT")
    prefix = pairs[:tail].rstrip() + ","
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    new_pred = f"source = {INGEST_SOURCE_SQL}"
    return f"""{prefix}
split AS (SELECT doc_id, {new_pred} AS is_new FROM documents),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS corpus_id
  FROM bands n JOIN split sn ON n.doc_id = sn.doc_id AND sn.is_new
  JOIN bands o ON n.band = o.band AND n.sig = o.sig
  JOIN split so ON o.doc_id = so.doc_id AND NOT so.is_new),
sh2 AS ({sh}),
scored AS (
  SELECT c.new_id, c.corpus_id,
         CAST({size}({inter}(a.sh, b.sh)) AS DOUBLE)
           / ({size}(a.sh) + {size}(b.sh) - {size}({inter}(a.sh, b.sh))) AS jaccard
  FROM cand c
  JOIN sh2 a ON c.new_id = a.doc_id
  JOIN sh2 b ON c.corpus_id = b.doc_id),
best AS (
  SELECT new_id,
         max(jaccard) AS best_jaccard,
         min(corpus_id) AS a_match
  FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
  GROUP BY new_id)
SELECT d.doc_id,
       coalesce(b.best_jaccard, CAST(0 AS DOUBLE)) AS best_jaccard,
       coalesce(b.a_match, CAST(-1 AS BIGINT)) AS matched_corpus_id,
       b.new_id IS NULL AS admit
FROM (SELECT doc_id FROM documents WHERE {new_pred}) d
LEFT JOIN best b ON d.doc_id = b.new_id
ORDER BY d.doc_id
"""

def incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit/reject decisions for an arriving batch vs the existing
    corpus (banded LSH probe + exact-Jaccard verification)."""
    _register(spark, sf_dir)
    return spark.sql(incremental_ingest_sql("spark"))

# ------------------------------------------------- Bloom-filter pre-screen

BLOOM_M = 1024  # filter bits
BLOOM_K = 3  # hash functions


def bloom_prescreen_sql(dialect: str = "duckdb") -> str:
    """Bloom-filter membership pre-screen for the arriving batch — the
    cheap gate IN FRONT of ``incremental_ingest``'s LSH probe.

    The existing corpus inserts its exact bag-of-words key (the
    ``exact_dedup`` key) into an m-bit / k-hash Bloom filter; each new
    doc probes. ``bloom_maybe`` is the filter's verdict, ``is_dup`` the
    exact ground truth (test-scale verifier, like the quadratic dedup
    entries) — the classic no-false-negative guarantee is therefore part
    of the hash-checked output: every row with ``is_dup`` must carry
    ``bloom_maybe`` (property-pinned in tests), while ``bloom_maybe AND
    NOT is_dup`` rows are the deterministic false positives the
    downstream verifier rejects.

    Scale shape: the filter is a FIXED-size set of occupied bit
    positions (<= m rows regardless of corpus size — a 100 TB corpus
    still compresses to m bits) built with one distinct-agg over the
    insert side, then broadcast to the probe side; the probe is
    mapper-only hashing plus a count over the k positions. The exact
    ``is_dup`` join is the test-scale oracle half only — at scale,
    bloom-positive docs flow to the LSH verifier instead. The ``LIMIT
    m`` on the occupied set is a row-wise no-op (positions are mod m)
    that makes the broadcast's boundedness provable from the plan string
    (tools/audit_plans.py's contract).

    Hashing is the md5 idiom shared with ``_hash_tok`` (bit-identical in
    both engines), salted with the hash index.
    """
    m, k = BLOOM_M, BLOOM_K
    bag = _bag_key_expr(dialect)
    if dialect == "spark":
        series = f"explode(sequence(1, {k}))"
        pos = f"CAST(conv(substring(md5(concat(CAST(j AS STRING), key)), 1, 7), 16, 10) AS BIGINT) % {m}"
        # Hint the JOIN ALIAS (o), not the CTE name: Spark resolves
        # relation hints against the alias in scope, and an unresolved
        # name silently no-ops (HintErrorLogger WARN) — the <=m-row
        # occupied-bit side would then shuffle instead of broadcast.
        hint = "/*+ BROADCAST(o) */ "
    else:
        series = f"unnest(generate_series(1, {k}))"
        pos = f"('0x' || substr(md5(CAST(j AS VARCHAR) || key), 1, 7))::BIGINT % {m}"
        hint = ""
    return f"""
WITH keyed AS (
  SELECT doc_id, {bag} AS key,
         source = {INGEST_SOURCE_SQL} AS is_new
  FROM documents),
pos AS (
  SELECT doc_id, is_new, key, {pos} AS p
  FROM (SELECT doc_id, is_new, key, {series} AS j FROM keyed)),
occ AS (SELECT DISTINCT p FROM pos WHERE NOT is_new LIMIT {m}),
probe AS (
  SELECT {hint}n.doc_id, count(o.p) AS hits
  FROM pos n LEFT JOIN occ o ON n.p = o.p
  WHERE n.is_new GROUP BY n.doc_id),
dupkeys AS (SELECT DISTINCT key FROM keyed WHERE NOT is_new)
SELECT k2.doc_id,
       p.hits = {k} AS bloom_maybe,
       d.key IS NOT NULL AS is_dup
FROM keyed k2
JOIN probe p ON k2.doc_id = p.doc_id
LEFT JOIN dupkeys d ON k2.key = d.key
WHERE k2.is_new
ORDER BY k2.doc_id
"""


def bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen of the arriving batch against the
    existing corpus's exact-dedup keys (no false negatives)."""
    _register(spark, sf_dir)
    return spark.sql(bloom_prescreen_sql("spark"))


# ----------------------------------------------- online streaming dedup


def _online_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band, sig, sh) band rows for one arriving batch — the
    same signature construction as ``_lsh_pairs_sql`` (one md5 per
    shingle, all 16 minima in one traversal), carried with the shingle
    array so the index can verify candidates without re-reading the
    corpus."""
    rows_per_band = N_HASHES // BANDS
    base = "transform(sh, s -> " + _hash_tok("spark", "s") + ")"
    return (
        df.withColumn("sh", F.expr(_shingle_expr("spark")))
        .withColumn("hs", F.expr(base))
        .withColumn("mh", F.expr(_minhash_vec_expr()))
        .select(
            "doc_id",
            "sh",
            F.explode(F.expr(f"sequence(0, {BANDS - 1})")).alias("band"),
            "mh",
        )
        .withColumn("sig", F.expr(f"slice(mh, band * {rows_per_band} + 1, {rows_per_band})"))
        .select("doc_id", "band", "sig", "sh")
    )


def streaming_online_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE dedup with a LIVE index: documents arrive as
    ``STREAM_CHUNKS`` doc_id-ordered micro-batches; each batch PROBES
    the LSH index accumulated from previously ADMITTED docs (banded
    candidates → exact-Jaccard verify) and the admitted survivors are
    APPENDED to the index before the next batch — the cross-batch
    index-evolution loop a 100 TB ingest pipeline runs daily, executed
    as a real foreachBatch stream.

    The semantics this certifies (and ``streaming_online_dedup_sql`` replays
    unrolled): a doc is rejected iff an ADMITTED doc from an EARLIER
    batch is a verified near-dup. Chains therefore behave like real
    online dedup — if A admits and B (dup of A) rejects, a later C
    that's near only B still ADMITS, because rejected docs never enter
    the index. Within-batch dups both admit (the probe runs before the
    batch inserts), exactly like a production bulk-load.

    Scale shape: the per-batch probe is the one-sided banded equi-join
    of ``dedup_incremental_ingest`` (index side bucketed on (band,
    sig) at scale); the index append is blind. The foreachBatch loop
    adds no driver-side per-row work — both legs are DataFrame plans.
    """
    import glob
    import os
    import shutil
    import tempfile

    from ..streaming.pipeline import _range_chunked_stream

    docs = load_table(spark, sf_dir, "documents")
    idx_dir = tempfile.mkdtemp(prefix="online_idx_")  # narrow (doc_id, band, sig)
    sh_dir = tempfile.mkdtemp(prefix="online_sh_")  # (doc_id, sh) fetch relation
    out_dir = tempfile.mkdtemp(prefix="online_out_")
    try:

        def handle(batch: DataFrame, _epoch: int) -> None:
            # index layout mirrors _lsh_verified_sql's candidates-then-fetch
            # idiom: band rows stay NARROW (sig only — review fix: carrying
            # the shingle array per band row inflated the index ~8x), and
            # the shingles live once per doc in a separate relation that
            # only VERIFIED candidates fetch-join.
            b = _online_bands(batch).persist()
            if glob.glob(os.path.join(idx_dir, "*.parquet")):
                idx = spark.read.parquet(idx_dir)
                idx_sh = spark.read.parquet(sh_dir)
                cand = (
                    b.select("doc_id", "band", "sig")
                    .alias("n")
                    .join(idx.alias("o"), ["band", "sig"])
                    .select(
                        F.col("n.doc_id").alias("new_id"),
                        F.col("o.doc_id").alias("corpus_id"),
                    )
                    .distinct()
                )
                inter = "size(array_intersect(nsh, osh))"
                dup = (
                    cand.join(
                        b.select("doc_id", "sh").distinct().alias("ns"),
                        cand.new_id == F.col("ns.doc_id"),
                    )
                    .join(idx_sh.alias("os"), cand.corpus_id == F.col("os.doc_id"))
                    .select(
                        "new_id",
                        "corpus_id",
                        F.col("ns.sh").alias("nsh"),
                        F.col("os.sh").alias("osh"),
                    )
                    .withColumn(
                        "j",
                        F.expr(
                            f"CAST({inter} AS DOUBLE) / (size(nsh) + size(osh) - {inter})"
                        ),
                    )
                    .filter(f"j >= {JACCARD_THRESHOLD}")
                    .groupBy("new_id")
                    .agg(F.min("corpus_id").alias("dup_of"))
                    .persist()  # review fix: verdict AND index append read it
                )
            else:
                dup = spark.createDataFrame([], "new_id BIGINT, dup_of BIGINT")
            verdict = (
                batch.select("doc_id")
                .join(dup, batch.doc_id == dup.new_id, "left")
                .select(
                    "doc_id",
                    F.col("dup_of").isNull().alias("admitted"),
                    F.coalesce("dup_of", F.lit(-1)).alias("dup_of"),
                )
            )
            verdict.write.mode("append").parquet(out_dir)
            admitted_bands = b.join(dup, b.doc_id == dup.new_id, "left_anti")
            admitted_bands.select("doc_id", "band", "sig").write.mode(
                "append"
            ).parquet(idx_dir)
            admitted_bands.select("doc_id", "sh").distinct().write.mode(
                "append"
            ).parquet(sh_dir)
            dup.unpersist()
            b.unpersist()

        with _range_chunked_stream(spark, docs, "doc_id") as stream:
            q = (
                stream.writeStream.foreachBatch(handle)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # re-materialize OUTSIDE the tmpdir the finally-block deletes —
        # distributed write + scan, not a driver collect (r5 verdict 7)
        out = spark.read.parquet(out_dir)
        return materialize_scan(spark, out, "online_dedup").orderBy("doc_id")
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(sh_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def streaming_online_dedup_sql(dialect: str = "duckdb") -> str:
    """Unrolled replay of the online semantics: the verified near-dup
    relation is computed once over all ordered pairs, then the
    ``STREAM_CHUNKS`` admitted sets fold left-to-right (reject iff a
    verified partner sits in the PREVIOUS batches' admitted set)."""
    from ..streaming.pipeline import STREAM_CHUNKS

    pairs = _lsh_pairs_sql(dialect)
    tail = pairs.index("SELECT /*+") if "SELECT /*+" in pairs else pairs.index("SELECT DISTINCT")
    prefix = pairs[:tail].rstrip() + ","
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    idiv = "div" if dialect == "spark" else "//"
    mn = "(SELECT min(doc_id) FROM documents)"
    mx = "(SELECT max(doc_id) FROM documents)"
    n = STREAM_CHUNKS
    ix = f"{size}({inter}(a.sh, b.sh))"
    stages = []
    for b in range(1, n):
        prev = f"adm{b - 1}"
        stages.append(
            f"""rej{b} AS (
  SELECT v.new_id AS doc_id, min(v.corpus_id) AS dup_of
  FROM ver v
  JOIN ck c ON v.new_id = c.doc_id AND c.chunk = {b}
  JOIN {prev} a ON v.corpus_id = a.doc_id
  GROUP BY v.new_id),
adm{b} AS (
  SELECT doc_id FROM {prev}
  UNION ALL
  SELECT c.doc_id FROM ck c LEFT JOIN rej{b} r ON c.doc_id = r.doc_id
  WHERE c.chunk = {b} AND r.doc_id IS NULL)"""
        )
    rejs = "\nUNION ALL\n".join(f"SELECT * FROM rej{b}" for b in range(1, n))
    return f"""{prefix}
ck AS (SELECT doc_id,
              CAST((doc_id - {mn}) * {n} {idiv} ({mx} - {mn} + 1) AS BIGINT) AS chunk
       FROM documents),
sh2 AS ({sh}),
cand AS (
  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.sig = y.sig AND x.doc_id <> y.doc_id),
ver AS (
  SELECT c.new_id, c.corpus_id
  FROM cand c
  JOIN sh2 a ON c.new_id = a.doc_id
  JOIN sh2 b ON c.corpus_id = b.doc_id
  WHERE CAST({ix} AS DOUBLE) / ({size}(a.sh) + {size}(b.sh) - {ix}) >= {JACCARD_THRESHOLD}),
adm0 AS (SELECT doc_id FROM ck WHERE chunk = 0),
{",".join(stages)},
rej AS ({rejs})
SELECT c.doc_id,
       r.doc_id IS NULL AS admitted,
       coalesce(r.dup_of, CAST(-1 AS BIGINT)) AS dup_of
FROM ck c LEFT JOIN rej r ON c.doc_id = r.doc_id
ORDER BY c.doc_id
"""


# ------------------------------------- asymmetric containment (prefix filter)

CONT_TAU_E6 = 800_000  # containment threshold tau = 0.8, e6-scaled


def containment_pairs_sql(dialect: str = "duckdb") -> str:
    """Asymmetric CONTAINMENT dedup: pairs where shingles(a) are mostly a
    subset of shingles(b) — |sh(a) AND sh(b)| / |sh(a)| >= tau. Jaccard
    misses these (a short doc quoted inside a long one has tiny Jaccard
    but containment ~1), so this is the family member that catches
    quote-extraction / subset documents.

    Candidate generation is the PREFIX FILTER (the ssjoin literature's
    PPJoin family, Xiao et al. 2008): order each doc's shingles by
    global document frequency (rarest first, shingle text tiebreak) and
    take the first floor((1-tau)*n)+1 as its prefix. If cont(a in b) >=
    tau then a is missing at most floor((1-tau)*n_a) shingles from b, so
    at least one PREFIX shingle of a must occur in b — joining a's
    prefix rows against all shingle rows is therefore complete, while
    touching only ~(1-tau) of the shingle volume on the probe side, and
    the rarest-first ordering concentrates join keys on low-df shingles.
    A length filter (n_b >= tau * n_a, exact integers) prunes candidates
    that could never verify. Verification fetches the two shingle
    arrays by doc_id (the lsh_verified two-join idiom) and scores an
    exact integer rational — bit-identical across engines.

    Scale shape: one df aggregate, one per-doc window (doc-keyed
    shuffle), a shingle-keyed equi-join whose fan-out is df-bounded on
    mostly-rare keys, then O(candidates) verification. At 100 TB the
    standard extra guard is a df cap on the probe side's hottest
    shingles (positional filter in the literature); not needed at the
    corpus sizes the oracle certifies. Reference scope: beyond
    dnstap2clickhouse's surface; complements minhash_lsh (symmetric
    Jaccard) on the asymmetric axis.

    r11 restructure (measured first, guide §1/§2.3/§8): at the 10x
    replica the cost was NOT the signature chain (srows 0.98 s, df
    1.1 s, ranked 2.5 s — the r10 verdict's "ranked computes twice"
    hypothesis was a minor term) but the CANDIDATE EXPLOSION: the
    prefix join emitted 21.07M DISTINCT candidates (28.7 s for the
    join+distinct) of which only 501,200 verify, then paid an
    array_intersect per candidate (~15.6 s). Three changes, all
    output-preserving, Spark dialect only:

    - **Exact-set grouping (the §8 move: decide on proxies, expand to
      members).** Containment is a function of the two shingle SETS
      alone, and a replica-heavy corpus (like any real crawl at 100 TB
      — that is why ``exact_dedup`` exists) has many docs per distinct
      set; the candidate join is QUADRATIC in group size. One window
      pass groups docs by their sorted shingle array (exact set
      identity — no hash key, no collision risk), the whole
      prefix/candidate/verify machinery runs once per DISTINCT set,
      equal-set pairs short-circuit to cont = 1e6 (>= tau always since
      tau <= 1), and two rep_id joins expand verified set pairs back
      to doc pairs.
    - ``n`` comes from ``size(key)`` before the explode instead of a
      ``count(*) OVER (PARTITION BY doc_id)`` window (arrays are
      distinct, so the per-set row count IS the array size).
    - the PPJoin POSITIONAL filter (Xiao et al. 2008, the standard
      companion of the prefix filter): a generating match on shingle s
      can only come from a true pair if the overlap still achievable
      at and after s reaches t = ceil(tau*n_a), i.e.
      ``least(n_a - rk_a, n_b - rk_b) + 1 >= t``. Completeness: for a
      true pair let s* be the first common shingle in the global
      (df, s) order; all >= t common shingles sit at rank >= rk(s*) in
      BOTH sets, so rk_a(s*) <= n_a-t+1 (s* is in a's prefix) and both
      ``n - rk`` terms are >= t-1 — the s* match row always survives.
      Soundness: candidates stay a superset; exact verification
      decides. (df now counts distinct SETS, not docs — the prefix
      theory only needs a consistent total order, and set-level df is
      the better rarity signal anyway.)

    Equivalence for the grouping: set(a)=S_x, set(b)=S_y => cont(a,b)
    = |S_x ∩ S_y|*1e6 div |S_x| depends only on (S_x, S_y); same-set
    pairs score exactly 1e6; docs with EMPTY shingle sets produce no
    srows rows in the old form (never paired) and are excluded from
    groups here (``size(key) > 0``). Measured at the 10x replica:
    50,120 docs -> 4,992 distinct sets, candidates 21.07M -> 173,733,
    runtime 26.4 s -> 5.0 s warm / 71 -> 12.5 s cold, output
    byte-identical (oracle-exact at sf0.001/sf0.01; exceptAll vs the
    old Spark form = 0 rows both ways on the replica's 501,200 pairs).
    The DuckDB oracle keeps the r10 form byte-for-byte (its CTEs
    materialize, so it was single-pass already) — the referee stays
    independent of the Spark rewrite it certifies.
    """
    arrays = _shingle_arrays(dialect)
    flat = "explode" if dialect == "spark" else "unnest"
    idiv = "div" if dialect == "spark" else "//"
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    if dialect == "spark":
        # t = ceil(n_a * tau) as exact integers (tau carried e6-scaled)
        t_a = f"(p.n * {CONT_TAU_E6} + 999999) {idiv} 1000000"
        return f"""
WITH sh AS ({arrays}),
keyed AS (
  SELECT doc_id, key,
         min(doc_id) OVER (PARTITION BY key) AS rep_id,
         count(*) OVER (PARTITION BY key) AS sz
  FROM (SELECT doc_id, sort_array(sh) AS key FROM sh WHERE {size}(sh) > 0)),
reps AS (SELECT doc_id AS rep_id, key, sz FROM keyed WHERE doc_id = rep_id),
srows AS (SELECT rep_id, {flat}(key) AS s, {size}(key) AS n FROM reps),
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM srows GROUP BY s),
ranked AS (
  SELECT r.rep_id, r.s, r.n,
         row_number() OVER (PARTITION BY r.rep_id ORDER BY d.df, r.s) AS rk
  FROM srows r JOIN df d ON r.s = d.s),
prefix AS (
  SELECT rep_id, s, n, rk FROM ranked
  WHERE rk <= (n * {1_000_000 - CONT_TAU_E6}) {idiv} 1000000 + 1),
cand AS (
  SELECT DISTINCT p.rep_id AS rep_a, r.rep_id AS rep_b
  FROM prefix p JOIN ranked r
    ON p.s = r.s AND p.rep_id <> r.rep_id
   AND r.n * 1000000 >= p.n * {CONT_TAU_E6}
   AND least(p.n - p.rk, r.n - r.rk) + 1 >= {t_a}),
verified AS (
  SELECT rep_a, rep_b, cont_e6 FROM (
    SELECT c.rep_a, c.rep_b,
           (CAST({size}({inter}(a.key, b.key)) AS BIGINT) * 1000000)
             {idiv} {size}(a.key) AS cont_e6
    FROM cand c
    JOIN reps a ON c.rep_a = a.rep_id
    JOIN reps b ON c.rep_b = b.rep_id) s
  WHERE cont_e6 >= {CONT_TAU_E6}
  UNION ALL
  SELECT rep_id, rep_id, CAST(1000000 AS BIGINT) FROM reps WHERE sz >= 2)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, v.cont_e6
FROM verified v
JOIN keyed x ON x.rep_id = v.rep_a
JOIN keyed y ON y.rep_id = v.rep_b AND y.doc_id <> x.doc_id
ORDER BY doc_a, doc_b
"""
    head = f"""
WITH sh AS ({arrays}),
srows AS (SELECT doc_id, {flat}(sh) AS s FROM sh),
df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM srows GROUP BY s),
ranked AS (
  SELECT r.doc_id, r.s,
         row_number() OVER (PARTITION BY r.doc_id ORDER BY d.df, r.s) AS rk,
         count(*) OVER (PARTITION BY r.doc_id) AS n
  FROM srows r JOIN df d ON r.s = d.s),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE rk <= (n * {1_000_000 - CONT_TAU_E6}) {idiv} 1000000 + 1),
cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, r.doc_id AS doc_b
  FROM prefix p JOIN ranked r
    ON p.s = r.s AND p.doc_id <> r.doc_id
   AND r.n * 1000000 >= p.n * {CONT_TAU_E6}),"""
    return f"""{head}
scored AS (
  SELECT c.doc_a, c.doc_b,
         (CAST({size}({inter}(a.sh, b.sh)) AS BIGINT) * 1000000) {idiv} {size}(a.sh) AS cont_e6
  FROM cand c
  JOIN sh a ON c.doc_a = a.doc_id
  JOIN sh b ON c.doc_b = b.doc_id)
SELECT doc_a, doc_b, cont_e6 FROM scored
WHERE cont_e6 >= {CONT_TAU_E6}
ORDER BY doc_a, doc_b
"""


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs (doc_a mostly inside doc_b) at tau=0.8,
    candidates via the prefix filter, verified with exact integers."""
    _register(spark, sf_dir)
    return spark.sql(containment_pairs_sql("spark"))


# ------------------------------------- MinHash estimator certification

MH_TOL_E6 = 375_000  # 3 sigma at 16 permutations: 3*sqrt(.25/16) = 0.375


def minhash_accuracy_sql(dialect: str = "duckdb") -> str:
    """MinHash ACCURACY certification — the `events_sketch_stats`
    pattern applied to the estimator the whole LSH chain stands on:
    for every banded-LSH candidate pair, the signature-agreement
    estimate (matching minima / N_HASHES — the unbiased MinHash
    Jaccard estimator) sits next to the EXACT shingle Jaccard (the
    `_lsh_verified_sql` fetch-join form, threshold-free), with the
    absolute error and a ``within_3sigma`` flag at the analytic
    3*sqrt(J(1-J)/16) <= ``MH_TOL_E6`` bound. The flag is COMPUTED by
    both engines (the `graph_kcore` certificate discipline), so the
    hash certifies the per-pair error pattern itself — a ~0.3%-per-pair
    3-sigma exceedance rate is expected and recorded, never asserted.
    All quantities are exact integers at e6. Plan: the candidate join +
    two doc-keyed fetch joins (signature vector and shingle array ride
    the same fetch), nothing all-pairs.
    """
    cand = _lsh_pairs_sql(dialect)
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        sig_src = f"""
sigs AS (SELECT doc_id, {_minhash_vec_expr()} AS mh
         FROM (SELECT doc_id, transform(sh, s -> {_hash_tok("spark", "s")}) AS hs
               FROM shx))"""
        agree = "size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), v -> v))"
    else:
        mh = _minhash_sql(dialect)
        sig_src = f"""
sigs AS (SELECT doc_id, list(minhash ORDER BY hidx) AS mh FROM ({mh}) GROUP BY doc_id)"""
        agree = ("len(list_filter(list_transform(range(1, " + str(N_HASHES + 1) +
                 "), i -> sa.mh[i] = sb.mh[i]), v -> v))")
    return f"""
WITH cand AS ({cand}),
shx AS ({sh}),{sig_src},
scored AS (
  SELECT c.doc_a, c.doc_b,
         (CAST({agree} AS BIGINT) * 1000000) {div} {N_HASHES} AS est_e6,
         (CAST({size}({inter}(a.sh, b.sh)) AS BIGINT) * 1000000)
           {div} ({size}(a.sh) + {size}(b.sh) - {size}({inter}(a.sh, b.sh))) AS exact_e6
  FROM cand c
  JOIN shx a ON c.doc_a = a.doc_id
  JOIN shx b ON c.doc_b = b.doc_id
  JOIN sigs sa ON c.doc_a = sa.doc_id
  JOIN sigs sb ON c.doc_b = sb.doc_id)
SELECT doc_a, doc_b, est_e6, exact_e6,
       abs(est_e6 - exact_e6) AS abs_err_e6,
       CAST(abs(est_e6 - exact_e6) <= {MH_TOL_E6} AS BOOLEAN) AS within_3sigma
FROM scored
ORDER BY doc_a, doc_b
"""


def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs exact Jaccard, error flagged."""
    _register(spark, sf_dir)
    return spark.sql(minhash_accuracy_sql("spark"))


# ------------------------------------- cluster size distribution

CLUSTER_BINS = ((1, 1), (2, 2), (3, 4), (5, 8), (9, 1 << 30))


def cluster_stats_sql(dialect: str = "duckdb") -> str:
    """Near-dup cluster SIZE DISTRIBUTION — the dedup observability
    readout next to `graph_degree_histogram`'s skew audit: how much of
    the corpus sits in singletons vs duplicate families, and how big
    the biggest family is (a sudden giant cluster is the classic
    symptom of boilerplate or a broken shingle config). Bins over the
    audited CC labels (`_cc_reach_sql` spliced, the `cc_clusters`
    relation itself); per bin: cluster count, document mass, and the
    bin's largest cluster. The global max cluster size rides every row
    (cross-joined 1-row aggregate) so the hash pins it. Plan: labels →
    one cluster-keyed count → one ≤5-row bin aggregate.
    """
    arms = " ".join(
        f"WHEN n >= {lo} AND n <= {hi} THEN {i}"
        for i, (lo, hi) in enumerate(CLUSTER_BINS)
    )
    return (
        _cc_reach_sql()
        + f""",
cc AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM cc GROUP BY cluster_id),
mx AS (SELECT CAST(max(n) AS BIGINT) AS max_cluster FROM sizes)
SELECT CAST(CASE {arms} END AS BIGINT) AS size_bin,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(max(n) AS BIGINT) AS bin_max_size,
       m.max_cluster
FROM sizes CROSS JOIN mx m
GROUP BY 1, m.max_cluster
ORDER BY 1
"""
    )


def cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned near-dup cluster sizes over the CC labels (DataFrame
    flavor: reuses the driver-looped `cc_clusters` labels, then the
    same dialect-free downstream)."""
    cc_clusters(spark, sf_dir).createOrReplaceTempView("cc_labels")
    arms = " ".join(
        f"WHEN n >= {lo} AND n <= {hi} THEN {i}"
        for i, (lo, hi) in enumerate(CLUSTER_BINS)
    )
    return spark.sql(f"""
WITH sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
               FROM cc_labels GROUP BY cluster_id),
mx AS (SELECT CAST(max(n) AS BIGINT) AS max_cluster FROM sizes)
SELECT CAST(CASE {arms} END AS BIGINT) AS size_bin,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(max(n) AS BIGINT) AS bin_max_size,
       m.max_cluster
FROM sizes CROSS JOIN mx m
GROUP BY 1, m.max_cluster
ORDER BY 1
""")


# ------------------------------------- MinHash-LSH pair recall (text side)


def minhash_recall_sql(dialect: str = "duckdb") -> str:
    """Pair recall of the text MinHash-LSH chain vs the exact all-pairs
    `ngram_jaccard_pairs` ground truth — the text-side twin of
    `dedup_embedding_lsh_recall`, and (with `dedup_minhash_accuracy`)
    the second instrument the banding knob is tuned against: ONE scalar
    row (found/true/recall), with precision structurally 1.0 — LSH
    candidates are exact-Jaccard verified at the same threshold — and
    CERTIFIED by ``n_false_pos`` which the oracle hash pins to 0. The
    exact relation is the documented quadratic verifier (the audit
    waiver family); the measured path stays candidates-only.
    """
    if dialect == "spark":
        # ONE pass of each pair pipeline: the historical form's six
        # scalar subqueries each re-planned their CTE chain (Spark
        # inlines — the exact QUADRATIC verifier executed ~5x, 40
        # document-text scans in one plan, the audit census' worst
        # line). A full outer join of the two DISTINCT pair sets
        # carries both memberships through one aggregate; coalesce
        # guards the empty-corpus sums. DuckDB keeps the scalar-
        # subquery form byte-for-byte (oracle stability) — its CTEs
        # materialize, so the subqueries were already single-pass.
        return f"""
WITH exact_pairs AS ({ngram_jaccard_pairs_sql(dialect).replace("ORDER BY doc_a, doc_b", "")}),
lsh_pairs AS ({_lsh_verified_sql(dialect)}),
j AS (
  SELECT CASE WHEN x.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true,
         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_lsh
  FROM exact_pairs x FULL OUTER JOIN lsh_pairs l
    ON x.doc_a = l.doc_a AND x.doc_b = l.doc_b),
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
WITH exact_pairs AS ({ngram_jaccard_pairs_sql(dialect).replace("ORDER BY doc_a, doc_b", "")}),
lsh_pairs AS ({_lsh_verified_sql(dialect)}),
hits AS (
  SELECT x.doc_a FROM exact_pairs x JOIN lsh_pairs l
    ON x.doc_a = l.doc_a AND x.doc_b = l.doc_b)
SELECT CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_found,
       CAST((SELECT count(*) FROM exact_pairs) AS BIGINT) AS n_true,
       CASE WHEN (SELECT count(*) FROM exact_pairs) = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST((SELECT count(*) FROM hits) AS DOUBLE)
                   / (SELECT count(*) FROM exact_pairs) END AS pair_recall,
       CAST((SELECT count(*) FROM lsh_pairs) AS BIGINT)
         - CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_false_pos
"""


def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row recall of LSH-verified pairs vs the exact Jaccard truth."""
    _register(spark, sf_dir)
    return spark.sql(minhash_recall_sql("spark"))


# ------------------------------------- LSH banding operating curve

BAND_SWEEP = (4, 8, 16)  # band counts swept over the 16-hash signature


def band_sweep_sql(dialect: str = "duckdb") -> str:
    """The MinHash BANDING operating curve — the third tuning
    instrument beside `sim_threshold_sweep` (verify threshold) and
    `sim_nprobe_sweep` (probe depth): candidate and verified-pair
    counts at every band count in ``BAND_SWEEP`` over the SAME 16-hash
    signatures (the S-curve knob: more bands = shorter band signatures
    = more candidates = higher recall, more verification work). Band
    signatures are ordered string aggregations of the one audited
    signature relation (`_minhash_sql`) — the sweep cannot use
    different minima than production. Each config is one (band,
    sig)-keyed self-join + one verified count via the exact-Jaccard
    fetch-join idiom; ``cand_monotone`` certifies in-hash that
    candidates never shrink as bands grow (banding theory predicts it;
    the certificate MEASURES it — the `graph_kcore` discipline).
    """
    mh = _minhash_sql(dialect)
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    if dialect == "spark":
        agg = ("concat_ws(',', transform(sort_array(collect_list(struct(hidx, minhash))), "
               "x -> CAST(x.minhash AS STRING)))")
    else:
        agg = "string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hidx)"
    div = "div" if dialect == "spark" else "//"
    cfg_ctes, summary_rows = [], []
    for b in BAND_SWEEP:
        rpb = N_HASHES // b
        if dialect == "spark":
            # ONE pass per config: the scalar-subquery pair below
            # re-references cand{b}, and Spark inlines — the signature
            # chain (mh -> bands -> self-join) executed twice per
            # config, 18 document-text scans across the sweep (audit
            # census). The shingle fetch-join is 1:1 on candidates
            # (shx is unique per doc_id), so candidate count and
            # verified count come out of the same joined pass; the
            # argless count still emits the 0-row for an empty config.
            # DuckDB keeps the scalar-subquery form byte-for-byte
            # (CTEs materialize there — already single-pass).
            cfg_ctes.append(f"""
bands{b} AS (
  SELECT doc_id, hidx {div} {rpb} AS band, {agg} AS sig
  FROM mh GROUP BY doc_id, hidx {div} {rpb}),
cand{b} AS (
  SELECT /*+ SHUFFLE_HASH(a, b) */ DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands{b} a JOIN bands{b} b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
ver{b} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN
           CAST({size}({inter}(x.sh, y.sh)) AS DOUBLE)
             / ({size}(x.sh) + {size}(y.sh) - {size}({inter}(x.sh, y.sh)))
           >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified
  FROM cand{b} c
  JOIN shx x ON c.doc_a = x.doc_id
  JOIN shx y ON c.doc_b = y.doc_id)""")
            summary_rows.append(
                f"SELECT CAST({b} AS BIGINT) AS n_bands, CAST({rpb} AS BIGINT) AS rows_per_band, "
                f"n_candidates, n_verified FROM ver{b}"
            )
            continue
        cfg_ctes.append(f"""
bands{b} AS (
  SELECT doc_id, hidx {div} {rpb} AS band, {agg} AS sig
  FROM mh GROUP BY doc_id, hidx {div} {rpb}),
cand{b} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands{b} a JOIN bands{b} b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
ver{b} AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM cand{b} c
  JOIN shx x ON c.doc_a = x.doc_id
  JOIN shx y ON c.doc_b = y.doc_id
  WHERE CAST({size}({inter}(x.sh, y.sh)) AS DOUBLE)
          / ({size}(x.sh) + {size}(y.sh) - {size}({inter}(x.sh, y.sh)))
        >= {JACCARD_THRESHOLD})""")
        summary_rows.append(
            f"SELECT CAST({b} AS BIGINT) AS n_bands, CAST({rpb} AS BIGINT) AS rows_per_band, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM cand{b}) AS n_candidates, "
            f"(SELECT n FROM ver{b}) AS n_verified"
        )
    ctes = ",".join(cfg_ctes)
    rows = "\nUNION ALL\n".join(summary_rows)
    return f"""
WITH mh AS ({mh}),
shx AS ({sh}),{ctes},
curve AS ({rows})
SELECT n_bands, rows_per_band, n_candidates, n_verified,
       CAST(coalesce(lag(n_candidates) OVER (ORDER BY n_bands) <= n_candidates,
                     TRUE) AS BOOLEAN) AS cand_monotone
FROM curve
ORDER BY n_bands
"""


def band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate/verified counts per band count, curve certified."""
    _register(spark, sf_dir)
    return spark.sql(band_sweep_sql("spark"))


# ------------------------------------- near-dup pair review surface

PAIR_EXAMPLES_TOP = 10
PAIR_SNIPPET_CHARS = 40


def pair_examples_sql(dialect: str = "duckdb") -> str:
    """Human-REVIEW surface for the near-dup pipeline — the "show me
    what we are about to drop" table every curation UI renders before
    a destructive dedup run: the top verified pairs by exact Jaccard
    (deterministic id tiebreaks), each with both documents' leading
    snippets and exact e6 similarity. Built on the audited
    `_lsh_verified_sql` relation + two doc-keyed text fetch joins;
    top-k via TakeOrderedAndProject. The fixed-length snippet keeps
    the review row narrow no matter the document size.
    """
    vp = _lsh_verified_sql(dialect)
    return f"""
WITH vp AS ({vp}),
ranked AS (
  SELECT doc_a, doc_b,
         CAST(round(jaccard * 1000000) AS BIGINT) AS jaccard_e6
  FROM vp
  ORDER BY jaccard DESC, doc_a, doc_b
  LIMIT {PAIR_EXAMPLES_TOP})
SELECT r.doc_a, r.doc_b, r.jaccard_e6,
       substring(da.text, 1, {PAIR_SNIPPET_CHARS}) AS snippet_a,
       substring(db.text, 1, {PAIR_SNIPPET_CHARS}) AS snippet_b
FROM ranked r
JOIN documents da ON da.doc_id = r.doc_a
JOIN documents db ON db.doc_id = r.doc_b
ORDER BY r.jaccard_e6 DESC, r.doc_a, r.doc_b
"""


def pair_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top verified near-dup pairs with snippets — the review table."""
    _register(spark, sf_dir)
    return spark.sql(pair_examples_sql("spark"))


# ------------------------------------------- b-bit MinHash compression

BBIT_B = 2  # stored bits per minhash value
_BBIT_MASK = (1 << BBIT_B) - 1
_BBIT_C_E6 = 1_000_000 // (1 << BBIT_B)  # random-collision floor C = 2^-b


def bbit_minhash_sql(dialect: str = "duckdb") -> str:
    """b-bit MinHash (Li & Koenig, 2010): store only the lowest
    ``BBIT_B`` bits of each minhash value — a 14x storage cut vs the
    28-bit minima at N_HASHES=16 — and correct the estimator for the
    collision floor: unrelated minima still agree with probability
    ``C = 2^-b``, so ``J_hat = (A_b - C) / (1 - C)`` where ``A_b`` is
    the observed b-bit agreement. At 100 TB the signature table is the
    thing you replicate to every joiner; this is the entry that makes
    it 2 bits/hash instead of 28 while keeping the LSH chain's
    semantics — the exact trade the paper quantifies.

    Emitted per banded-LSH candidate pair (the same candidate relation
    every estimator entry audits): the raw b-bit agreement, the
    corrected estimate, the full-width estimate (`dedup_minhash_accuracy`'s
    column, for side-by-side reading) and the exact shingle Jaccard —
    all exact e6 integers, clamped at 0 (the correction can go negative
    below the floor, exactly as published). Plan shape: candidate join
    + per-doc signature fetch joins, nothing all-pairs; the b-bit
    truncation is a free narrow map on the signature vector.
    """
    cand = _lsh_pairs_sql(dialect)
    sh = _shingle_arrays(dialect)
    size = "size" if dialect == "spark" else "len"
    inter = "array_intersect" if dialect == "spark" else "list_intersect"
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        sig_src = f"""
sigs AS (SELECT doc_id, {_minhash_vec_expr()} AS mh
         FROM (SELECT doc_id, transform(sh, s -> {_hash_tok("spark", "s")}) AS hs
               FROM shx))"""
        agree_full = "size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), v -> v))"
        agree_b = (f"size(filter(zip_with(sa.mh, sb.mh, "
                   f"(x, y) -> (x & {_BBIT_MASK}) = (y & {_BBIT_MASK})), v -> v))")
    else:
        mh = _minhash_sql(dialect)
        sig_src = f"""
sigs AS (SELECT doc_id, list(minhash ORDER BY hidx) AS mh FROM ({mh}) GROUP BY doc_id)"""
        rng = f"range(1, {N_HASHES + 1})"
        agree_full = (f"len(list_filter(list_transform({rng}, "
                      f"i -> sa.mh[i] = sb.mh[i]), v -> v))")
        agree_b = (f"len(list_filter(list_transform({rng}, "
                   f"i -> (sa.mh[i] & {_BBIT_MASK}) = (sb.mh[i] & {_BBIT_MASK})), v -> v))")
    return f"""
WITH cand AS ({cand}),
shx AS ({sh}),{sig_src},
scored AS (
  SELECT c.doc_a, c.doc_b,
         (CAST({agree_b} AS BIGINT) * 1000000) {div} {N_HASHES} AS agree_b_e6,
         (CAST({agree_full} AS BIGINT) * 1000000) {div} {N_HASHES} AS est_full_e6,
         (CAST({size}({inter}(a.sh, b.sh)) AS BIGINT) * 1000000)
           {div} ({size}(a.sh) + {size}(b.sh) - {size}({inter}(a.sh, b.sh))) AS exact_e6
  FROM cand c
  JOIN shx a ON c.doc_a = a.doc_id
  JOIN shx b ON c.doc_b = b.doc_id
  JOIN sigs sa ON c.doc_a = sa.doc_id
  JOIN sigs sb ON c.doc_b = sb.doc_id)
SELECT doc_a, doc_b, agree_b_e6, est_full_e6, exact_e6,
       greatest(CAST(0 AS BIGINT),
         ((agree_b_e6 - {_BBIT_C_E6}) * 1000000)
           {div} (1000000 - {_BBIT_C_E6})) AS est_bbit_e6
FROM scored
ORDER BY doc_a, doc_b
"""


def bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash corrected estimates vs full-width and exact, per
    LSH candidate pair."""
    _register(spark, sf_dir)
    return spark.sql(bbit_minhash_sql("spark"))


# ------------------------------------------- mergeable source sketches


def source_sketch_sim_sql(dialect: str = "duckdb") -> str:
    """MinHash MERGEABILITY, demonstrated end-to-end: the signature of
    a UNION of sets is the elementwise min of the sets' signatures, so
    a per-SOURCE signature is just ``min(minhash) GROUP BY (source,
    hidx)`` over the per-doc signature rows — no re-shingling, no
    second corpus pass. The entry builds all source-level signatures
    that way, estimates every source-pair Jaccard from signature
    agreement, and sits the exact source-level shingle Jaccard (the
    relational intersect/union counts) next to it with the same
    3-sigma flag as `dedup_minhash_accuracy`. This is the corpus
    PROFILING story at 100 TB: per-partition sketch partials roll up
    to source/domain/crawl-level similarity matrices without touching
    raw text again — exactly what partial aggregation computes here.

    Scale shape: signature rollup is one (source, hidx)-keyed
    aggregate over the per-doc signature rows (16 rows/doc); the pair
    matrix is a hidx-keyed self-join of the |sources| x 16 sketch
    table — source-domain-sized, never corpus-sized. The exact side
    (gram self-join) is the test-scale verifier, same quarantine as
    every exact-Jaccard oracle in this module.
    """
    sh = _shingle_arrays(dialect)
    mh = _minhash_sql(dialect)
    idiv = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        sg_rows = f"SELECT d.source, explode(s.sh) AS shingle FROM ({sh}) s JOIN documents d ON d.doc_id = s.doc_id"
    else:
        sg_rows = f"SELECT d.source, unnest(s.sh) AS shingle FROM ({sh}) s JOIN documents d ON d.doc_id = s.doc_id"
    return f"""
WITH docsig AS ({mh}),
srcsig AS (
  SELECT d.source, m.hidx, min(m.minhash) AS mh
  FROM docsig m JOIN documents d ON d.doc_id = m.doc_id
  GROUP BY d.source, m.hidx),
agree AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS ag
  FROM srcsig a JOIN srcsig b
    ON a.hidx = b.hidx AND a.source < b.source
  GROUP BY a.source, b.source),
sg AS (SELECT DISTINCT source, shingle FROM ({sg_rows}) r),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS i
  FROM sg a JOIN sg b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source),
scored AS (
  SELECT g.source_a, g.source_b,
         (g.ag * 1000000) {idiv} {N_HASHES} AS est_e6,
         (coalesce(i.i, 0) * 1000000)
           {idiv} (na.n + nb.n - coalesce(i.i, 0)) AS exact_e6
  FROM agree g
  LEFT JOIN inter i ON i.source_a = g.source_a AND i.source_b = g.source_b
  JOIN sizes na ON na.source = g.source_a
  JOIN sizes nb ON nb.source = g.source_b)
SELECT source_a, source_b,
       CAST(est_e6 AS BIGINT) AS est_e6,
       CAST(exact_e6 AS BIGINT) AS exact_e6,
       CAST(abs(est_e6 - exact_e6) AS BIGINT) AS abs_err_e6,
       CAST(abs(est_e6 - exact_e6) <= {MH_TOL_E6} AS BOOLEAN) AS within_3sigma
FROM scored
ORDER BY source_a, source_b
"""


def source_sketch_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair Jaccard from merged (unioned) MinHash sketches."""
    _register(spark, sf_dir)
    return spark.sql(source_sketch_sim_sql("spark"))


# ------------------------------------------- quality-aware canonicals


def canonical_by_quality_sql(dialect: str = "duckdb") -> str:
    """Canonical selection by QUALITY — the production refinement of
    `dedup_canonical_corpus`'s min-id rule: inside every near-dup
    cluster keep the member with the highest quality score (ties by
    lower doc_id), because near-duplicates routinely differ in
    boilerplate/truncation and the min-id pick throws away the best
    copy. Emits per cluster the chosen canonical, its quality, the
    member count, and whether the choice DIFFERS from the min-id rule
    — so the improvement the rule buys is itself a driver-hashed
    number. The argmax rides a (quality, -doc_id) struct max, the same
    semilattice move as every last-writer entry (mergeable partials).

    Scale shape: the clustering is `dedup_cc_clusters`' labels; the
    quality score is the corpus-pass projection `text_quality` pins;
    selection is ONE cluster-keyed max-struct aggregate (map-side
    partials) + one fetch join back for the flag.
    """
    from .text import _quality_expr, _stats_exprs

    stats = ",\n         ".join(_stats_exprs(dialect))
    strct = ("named_struct('q', quality, 'nd', -doc_id)"
             if dialect == "spark" else "{'q': quality, 'nd': -doc_id}")
    labels = (
        _cc_reach_sql()
        + """,
labels AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id)"""
    )
    return f"""{labels},
scored AS (
  SELECT doc_id, {_quality_expr()} AS quality
  FROM (SELECT {stats} FROM documents) s),
members AS (
  SELECT l.cluster_id, l.doc_id, q.quality
  FROM labels l JOIN scored q ON q.doc_id = l.doc_id),
chosen AS (
  SELECT cluster_id,
         max({strct}) AS m,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(min(doc_id) AS BIGINT) AS min_id
  FROM members GROUP BY cluster_id)
SELECT cluster_id,
       CAST(-((m).nd) AS BIGINT) AS canonical_doc,
       (m).q AS canonical_quality,
       n_members,
       CAST(-((m).nd) <> min_id AS BOOLEAN) AS differs_from_min_id
FROM chosen
ORDER BY cluster_id
"""


def canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster best-quality canonical + divergence from min-id."""
    _register(spark, sf_dir)
    labels = _cc_labels(spark, sf_dir)
    labels.createOrReplaceTempView("cc_labels_view")
    from .text import _quality_expr, _stats_exprs

    stats = ",\n         ".join(_stats_exprs("spark"))
    return spark.sql(f"""
WITH labels AS (SELECT doc_id, cluster_id FROM cc_labels_view),
scored AS (
  SELECT doc_id, {_quality_expr()} AS quality
  FROM (SELECT {stats} FROM documents) s),
members AS (
  SELECT l.cluster_id, l.doc_id, q.quality
  FROM labels l JOIN scored q ON q.doc_id = l.doc_id),
chosen AS (
  SELECT cluster_id,
         max(named_struct('q', quality, 'nd', -doc_id)) AS m,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(min(doc_id) AS BIGINT) AS min_id
  FROM members GROUP BY cluster_id)
SELECT cluster_id,
       CAST(-((m).nd) AS BIGINT) AS canonical_doc,
       (m).q AS canonical_quality,
       n_members,
       CAST(-((m).nd) <> min_id AS BOOLEAN) AS differs_from_min_id
FROM chosen
ORDER BY cluster_id
""")


# ------------------------------------------- dup rate by source


def dup_rate_by_source_sql(dialect: str = "duckdb") -> str:
    """Duplicate-rate SCORECARD by source — "which crawls are
    duplicate-heavy" (the per-source flavor of `dedup_cluster_stats`,
    and the number a crawl-budget owner acts on): per source the doc
    count, how many docs are non-canonical near-dup cluster members
    (i.e. would be dropped by `dedup_canonical_corpus`'s min-id rule),
    and the exact e6 dup rate. Sources that replicate each other
    surface immediately; the canonical-attribution convention (the
    cluster's min-id doc is the survivor, wherever it lives) is the
    same one the canonical-corpus entry hashes.

    Scale shape: the CC labels' own census plus one doc-keyed join to
    the documents projection and a source-keyed rollup.
    """
    idiv = "div" if dialect == "spark" else "//"
    labels = (
        _cc_reach_sql()
        + """,
labels AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id)"""
    )
    return f"""{labels},
dropped AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
flagged AS (
  SELECT d.source,
         CASE WHEN x.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
  FROM documents d LEFT JOIN dropped x ON x.doc_id = d.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dups,
       CAST((sum(is_dup) * 1000000) {idiv} count(*) AS BIGINT) AS dup_rate_e6
FROM flagged
GROUP BY source
ORDER BY source
"""


def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup drop counts and exact e6 dup rate."""
    _register(spark, sf_dir)
    labels = _cc_labels(spark, sf_dir)
    labels.createOrReplaceTempView("cc_labels_view")
    return spark.sql("""
WITH dropped AS (
  SELECT doc_id FROM cc_labels_view WHERE doc_id <> cluster_id),
flagged AS (
  SELECT d.source,
         CASE WHEN x.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
  FROM documents d LEFT JOIN dropped x ON x.doc_id = d.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dups,
       CAST((sum(is_dup) * 1000000) div count(*) AS BIGINT) AS dup_rate_e6
FROM flagged
GROUP BY source
ORDER BY source
""")


# ------------------------------------------- dedup savings report


def savings_report_sql(dialect: str = "duckdb") -> str:
    """Dedup SAVINGS report — the one-row executive summary a storage/
    compute owner reads ("what did near-dup dedup actually buy"):
    corpus docs/tokens/chars before vs after canonical dedup (min-id
    survivors), with exact e6 savings rates for each. Token savings is
    the number that prices training compute; char savings prices
    storage. Reconciles by construction with `dedup_canonical_corpus`
    (same survivor set).

    Scale shape: the CC labels' census + one doc-keyed join to the
    stats projection + a 1-row rollup.
    """
    idiv = "div" if dialect == "spark" else "//"
    size = "size" if dialect == "spark" else "len"
    toks = "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"
    labels = (
        _cc_reach_sql()
        + """,
labels AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id)"""
    )
    body = f"""
flagged AS (
  SELECT d.doc_id,
         CAST({size}({toks}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CASE WHEN l.doc_id IS NOT NULL AND l.doc_id <> l.cluster_id
              THEN 0 ELSE 1 END AS survives
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
SELECT CAST(count(*) AS BIGINT) AS docs_before,
       CAST(sum(survives) AS BIGINT) AS docs_after,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
       CAST(sum(survives * n_tokens) AS BIGINT) AS tokens_after,
       CAST(sum(n_chars) AS BIGINT) AS chars_before,
       CAST(sum(survives * n_chars) AS BIGINT) AS chars_after,
       CAST(((count(*) - sum(survives)) * 1000000) {idiv} count(*) AS BIGINT)
         AS doc_savings_e6,
       CAST(((sum(n_tokens) - sum(survives * n_tokens)) * 1000000)
            {idiv} sum(n_tokens) AS BIGINT) AS token_savings_e6
"""
    return f"{labels},{body}FROM flagged\n"


def savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row before/after dedup savings summary (docs/tokens/chars)."""
    _register(spark, sf_dir)
    labels = _cc_labels(spark, sf_dir)
    labels.createOrReplaceTempView("cc_labels_view")
    body = savings_report_sql("spark")
    body = body[body.index("flagged AS ("):].replace("labels l", "cc_labels_view l")
    return spark.sql("WITH " + body)
