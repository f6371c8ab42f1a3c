"""Deterministic dataset splitting / stratified sampling — training-data
pipeline primitives (same family as functions/dedup.py; no reference
counterpart — the reference's only sampling is the dnstap bitmask,
operators/sampling.py).

Why not ``df.sample()`` / ``sampleBy()``: their RNG is seed+partition
dependent, so results change under repartitioning — unacceptable for a
train/val/test split that must be stable across runs, engines, and
cluster layouts, and they can't be oracle-checked. Instead each key is
bucketed by a **Lehmer multiplicative hash** computed in plain int64
arithmetic::

    bucket(k) = ((k mod p) * a mod p) mod n_buckets,  p = 2^31-1 (prime),
                                                      a = 48271 (MINSTD)

The product is < p^2 ~ 4.6e18 < int64 max, so the expression evaluates
identically (no overflow, no wrap) in Spark, DuckDB, or any engine with
64-bit integer arithmetic — the split is portable by construction and
runs entirely inside whole-stage codegen (no UDF, no shuffle: a split
is a *projection*; only the demo queries' summaries aggregate).

At 100 TB: assignment is embarrassingly parallel and collocates with
the scan; downstream ``filter(split = 'train')`` is a pushed-down
predicate, so materializing per-split tables is one pruned scan each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

LEHMER_P = 2_147_483_647  # 2^31 - 1, prime
LEHMER_A = 48_271  # MINSTD multiplier

#: split layout over 100 hash buckets: [0,80) train / [80,90) val / [90,100) test
SPLIT_BOUNDS = {"train": (0, 80), "val": (80, 90), "test": (90, 100)}

#: per-language sampling rates (buckets of 100 kept) for the stratified demo
STRATA_RATES = {"en": 60, "de": 30, "fr": 30, "es": 20}
DEFAULT_RATE = 10

def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key."""
    return ((key % LEHMER_P) * LEHMER_A % LEHMER_P) % n_buckets

def hash_bucket2(key: Column, n_buckets: int) -> Column:
    """Second-round Lehmer bucket — decoupled from :func:`hash_bucket`.

    One shared hash would couple every consumer: ``h % 100`` (the split
    bucket) is a function of ``h % 10000`` (the resample bucket), so
    resampling acceptance and split assignment would be deterministically
    correlated. Applying the multiplier a second time before the modulus
    breaks that relation."""
    h1 = (key % LEHMER_P) * LEHMER_A % LEHMER_P
    return (h1 * LEHMER_A % LEHMER_P) % n_buckets

def _bucket_sql(key: str, n_buckets: int = 100) -> str:
    return f"((({key} % {LEHMER_P}) * {LEHMER_A}) % {LEHMER_P}) % {n_buckets}"

def _bucket2_sql(key: str, n_buckets: int) -> str:
    h1 = f"((({key} % {LEHMER_P}) * {LEHMER_A}) % {LEHMER_P})"
    return f"(({h1} * {LEHMER_A}) % {LEHMER_P}) % {n_buckets}"

def assign_split(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Add ``bucket`` and ``split`` columns (pure projection, no shuffle)."""
    b = hash_bucket(F.col(key))
    split = F.lit(None).cast("string")
    expr = None
    for name, (lo, hi) in SPLIT_BOUNDS.items():
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("bucket", b).withColumn("split", expr)

def split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document split assignment + per-(split, lang) counts are the
    demo surface; the assignment itself is the reusable primitive."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_split(docs)
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id")
    )

def split_assignments_sql() -> str:
    cases = " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    )
    return f"""
SELECT doc_id, lang, b AS bucket, CASE {cases} END AS split
FROM (SELECT doc_id, lang, {_bucket_sql('doc_id')} AS b FROM documents)
ORDER BY doc_id
"""

def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a document when its
    hash bucket falls under its language's configured rate. Unlike
    ``sampleBy`` this is reproducible under any partitioning and needs
    no RNG state; the predicate is codegen'd and pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    rate = None
    for lang, r in STRATA_RATES.items():
        cond = F.col("lang") == lang
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(DEFAULT_RATE)
    return (
        assign_split(docs)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )

def stratified_sample_sql() -> str:
    cases = " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    return f"""
SELECT doc_id, lang, source, n_chars
FROM (SELECT *, {_bucket_sql('doc_id')} AS b FROM documents)
WHERE b < CASE {cases} ELSE {DEFAULT_RATE} END
ORDER BY doc_id
"""

#: quality-weighted resampling: acceptance probability = quality * SCALE
#: (capped at 1 by construction), realized over RESAMPLE_BUCKETS hash
#: buckets — deterministic, partitioning-independent, RNG-free
RESAMPLE_SCALE = 0.8
RESAMPLE_BUCKETS = 10_000

def quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus resampling (the DCLM/FineWeb move: keep
    documents with probability proportional to a quality score), made
    deterministic: doc ``d`` survives iff
    ``hash_bucket2(doc_id, 10000) < quality(d) * SCALE * 10000``
    (the SECOND-round hash — see :func:`hash_bucket2` — so acceptance is
    not correlated with the split bucket).

    Pure projection + filter — no shuffle, no RNG state; the survivor
    set is identical under any partitioning and any engine with int64
    arithmetic, and re-running with a higher SCALE strictly grows the
    sample (nested samples — useful for scaling-law data ladders)."""
    from .text import _quality_expr, _stats_exprs

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.selectExpr(*_stats_exprs("spark"))
    scored = stats.selectExpr("doc_id", f"{_quality_expr()} AS quality").withColumn(
        "bucket", hash_bucket2(F.col("doc_id"), RESAMPLE_BUCKETS)
    )
    return (
        scored.filter(
            F.col("bucket")
            < F.col("quality") * F.lit(RESAMPLE_SCALE) * F.lit(RESAMPLE_BUCKETS)
        )
        .select("doc_id", "quality", "bucket")
        .orderBy("doc_id")
    )

def quality_resample_sql() -> str:
    from .text import _quality_expr, _stats_exprs

    sel = ", ".join(_stats_exprs("duckdb"))
    return f"""
SELECT doc_id, quality, b AS bucket
FROM (SELECT doc_id, {_quality_expr()} AS quality,
             {_bucket2_sql('doc_id', RESAMPLE_BUCKETS)} AS b
      FROM (SELECT {sel} FROM documents))
WHERE b < quality * {RESAMPLE_SCALE} * {RESAMPLE_BUCKETS}
ORDER BY doc_id
"""

# ------------------------------------------------------ sequence packing

SEQ_LEN = 64  # tokens per training chunk (small so the test corpus spans many)

#: cap on the (group x partition) totals table global_prefix_sum collects
#: to the driver for its base-offset pass. Generous for every legitimate
#: caller (bounded groups x O(1000) partitions) yet small enough that the
#: guarded collect + broadcast stays trivially driver-safe.
MAX_PREFIX_TOTALS = 1_000_000

def global_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    order_col: str | tuple[str, ...],
    weight_col: str,
    group_cols: tuple[str, ...] = (),
    return_total: bool = False,
    name: str = "prefix_sum",
) -> DataFrame:
    """Distributed prefix sum over ``weight_col`` in ``order_col`` order —
    the scale-correct form of a global cumsum that a single
    unpartitioned window (one task holding the corpus) cannot provide:

    1. ``repartitionByRange(order_col)`` gives ordered, disjoint
       partitions;
    2. a window cumsum WITHIN each partition (parallel, partition-local);
    3. per-partition totals (one tiny aggregate, O(partitions) rows) are
       collected, prefix-summed on the driver, and broadcast back as
       per-partition base offsets — one scalar join per partition.

    Returns the input columns plus ``__base`` (partition base offset)
    and ``__local_end`` (partition-local inclusive cumsum); the global
    inclusive cumsum is ``__base + __local_end``. Partitioning-
    independent: a row's global prefix depends only on the order, never
    on where range boundaries land. Shared by ``pack_token_chunks``
    (token packing), ``multimodal.shard_manifest`` (byte packing), and
    ``interleave_mix`` (per-language ranks + schedule positions).

    ``order_col`` may be one column or a tuple (lexicographic order).
    ``group_cols`` restarts the sum per group (a grouped cumsum —
    per-language ranks): range partitioning leads with the group so a
    partition never straddles groups mid-total incorrectly, and the
    driver's base-offset pass resets at each group boundary. The
    (group × partition) total table must stay driver-small — true when
    group cardinality is bounded (languages, domains); an unbounded
    group column calls for a plain window partitioned by it instead.
    ENFORCED: the totals collect is LIMIT-bounded at
    ``MAX_PREFIX_TOTALS`` and raises with that guidance rather than
    melting the driver if a call site ever passes an unbounded group.

    ``return_total=True`` additionally returns the GLOBAL weight total
    (ungrouped: one int; grouped: dict of group-key tuple -> total) —
    the driver's base-offset pass computes it anyway, so a caller that
    also needs ``n`` (rank targets, bucket divisors) takes it for free
    instead of paying one more full scan (review finding).

    The partitioned cumsum is STAGED (``materialize_scan``) before the
    totals collect. Without this the plan executes TWICE — once for the
    totals, once for the returned join — and the two executions' range
    boundaries / partition ids need not agree (the exchange is
    re-sampled and AQE re-sizes it per execution): measured on the 10x
    replica, ranks came back as a NON-permutation (max 1,013,898 over
    n=1,000,000; 980,948 distinct) while every small-SF run was clean —
    the base offsets described partitions the second execution didn't
    reproduce. A persist() instead of staging fixes the two executions
    but silently re-breaks if the cache is evicted and the returned
    lineage re-executes; the parquet snapshot is the airtight form
    (``name`` scopes the staging per call site; the keep-window
    retention contract applies).
    """
    from pyspark.sql import Window

    from ..sources.tables import materialize_scan

    orders = [order_col] if isinstance(order_col, str) else list(order_col)
    groups = list(group_cols)
    parts = df.repartitionByRange(*(groups + orders)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy(*(groups + ["__pid"])).orderBy(*orders)
    local = materialize_scan(
        spark, parts.withColumn("__local_end", F.sum(weight_col).over(w)), name
    )
    totals_agg = local.groupBy(*(groups + ["__pid"])).agg(
        F.max("__local_end").alias("t")
    )
    # the (group x partition) totals table must stay driver-small (see
    # docstring); LIMIT the collect so an unbounded group column raises
    # with guidance instead of melting the driver — the limit sits above
    # the aggregate, so the driver never receives more than the cap + 1
    # rows regardless of the true cardinality (r6 verdict item 7)
    rows = totals_agg.limit(MAX_PREFIX_TOTALS + 1).collect()
    if len(rows) > MAX_PREFIX_TOTALS:
        raise ValueError(
            f"global_prefix_sum: (group x partition) totals exceed "
            f"{MAX_PREFIX_TOTALS} rows — group_cols={groups!r} is too "
            "high-cardinality for the driver-side base-offset pass. Use a "
            "plain window partitioned by the group column instead (each "
            "group fits one task), or reduce the group cardinality."
        )
    totals = sorted((tuple(r[g] for g in groups), r["__pid"], r["t"]) for r in rows)
    offsets, base, cur_group = [], 0, None
    group_totals: dict[tuple, int] = {}
    for gkey, pid, t in totals:
        if gkey != cur_group:
            cur_group, base = gkey, 0
        offsets.append((*gkey, pid, base))
        base += t
        group_totals[gkey] = base
    off_df = F.broadcast(
        spark.createDataFrame(
            offsets,
            ", ".join(
                [f"{g} {dict(df.dtypes)[g]}" for g in groups]
                + ["__pid INT", "__base BIGINT"]
            ),
        )
    )
    out = local.join(off_df, groups + ["__pid"])
    if not return_total:
        return out
    if groups:
        return out, group_totals
    return out, group_totals.get((), 0)


def pack_token_chunks(spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN) -> DataFrame:
    """GPT-style sequence packing offsets: concatenate all documents in
    doc_id order into one token stream, cut it into fixed ``seq_len``
    chunks, and emit each document's placement — global start offset and
    the [first, last] chunk ids it spans. This is the concat-and-chunk
    packing used for pretraining shards; the offsets are what a shard
    writer needs to route each doc's tokens.

    The global running total is computed as a DISTRIBUTED PREFIX SUM —
    the scale-correct form of a cumsum that a single unpartitioned
    window (one task holding the corpus) cannot provide:

    1. ``repartitionByRange(doc_id)`` gives ordered, disjoint partitions;
    2. a window cumsum WITHIN each partition (parallel, partition-local);
    3. per-partition totals (one tiny aggregate, O(partitions) rows)
       are collected, prefix-summed on the driver, and broadcast back
       as per-partition base offsets — one scalar join per partition.

    Output is partitioning-independent: a document's global prefix does
    not depend on where range boundaries land, only on the doc_id order.
    The DuckDB oracle is the plain single-window cumsum — small scale
    lets the oracle do what the engine must not.
    """
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens"
    )
    return (
        global_prefix_sum(spark, docs, "doc_id", "n_tokens", name="pack_rank")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "__base + __local_end - n_tokens AS start_tok",
            f"(__base + __local_end - n_tokens) div {seq_len} AS start_chunk",
            # empty docs occupy no chunk span: pin end = start
            f"CASE WHEN n_tokens > 0 THEN (__base + __local_end - 1) div {seq_len} "
            f"ELSE (__base + __local_end - n_tokens) div {seq_len} END AS end_chunk",
        )
        .orderBy("doc_id")
    )

def pack_token_chunks_sql(seq_len: int = SEQ_LEN) -> str:
    """Oracle: the plain global-window cumsum (fine at oracle scale)."""
    return f"""
SELECT doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_tok,
       CAST((cum - n_tokens) // {seq_len} AS BIGINT) AS start_chunk,
       CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // {seq_len}
            ELSE (cum - n_tokens) // {seq_len} END AS BIGINT) AS end_chunk
FROM (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents))
ORDER BY doc_id
"""

# ------------------------------------------------------- domain mixing

#: mixing weight per source-domain index (idx mod 4 → weight 1..4) —
#: a stand-in for the per-domain weights a Dolma/DCLM-style mixture
#: config would supply; integer weights keep every proportion exact
def _domain_weight_sql(idx: str) -> str:
    return f"(1 + ({idx}) % 4)"

def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing to target proportions (the Dolma/DCLM "mixer"):
    choose the LARGEST corpus that hits the configured per-domain
    weights exactly without upsampling any domain, then keep exactly
    that many documents per domain, deterministically.

    All arithmetic is exact-integer rational:

    - per-domain counts ``n_s`` (one groupBy over the tiny source
      domain — map-side partials collapse it before the exchange);
    - budget ``B = min_s floor(n_s * W_tot / W_s)`` — the bottleneck
      domain caps the mixture (1-row aggregate, broadcast back);
    - quota ``keep_s = floor(B * W_s / W_tot)``;
    - the kept docs are the ``keep_s`` lowest (hash-bucket, doc_id)
      ranks within each domain — a per-domain window whose partition
      count equals the number of domains. Domains are few and bounded
      by config (not by corpus size), so the window is as skewed as the
      mixture itself; for corpus-sized key domains use the
      hash-threshold form (:func:`stratified_sample`) instead.

    Deterministic under any partitioning, RNG-free, and identical in
    DuckDB — the doc-level selection is by hash rank, not row order.
    """
    return domain_mix_df(load_table(spark, sf_dir, "documents"))

def domain_mix_df(documents: DataFrame) -> DataFrame:
    """Core of :func:`domain_mix` over an injected documents frame
    (needs ``doc_id`` and ``source`` columns) — the partitioning of the
    input cannot change the survivor set."""
    from pyspark.sql import Window

    docs = documents.selectExpr(
        "doc_id",
        "source",
        "CAST(substring(source, 4) AS BIGINT) AS src_idx",
    ).withColumn("w", F.expr(_domain_weight_sql("src_idx")))
    counts = docs.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_s"))
    # W_tot over domains PRESENT (a missing domain can't constrain the mix)
    wtot = counts.agg(F.sum("w").alias("w_tot"))
    budget = (
        counts.crossJoin(F.broadcast(wtot))
        .selectExpr("CAST(n_s * w_tot AS BIGINT) div w AS b_s", "w_tot")
        .groupBy("w_tot")
        .agg(F.min("b_s").alias("budget"))
    )
    quota = (
        counts.crossJoin(F.broadcast(budget))
        .selectExpr("source", "n_s", "CAST(budget * w AS BIGINT) div w_tot AS keep_s")
    )
    ranked = docs.withColumn(
        "rk_bucket", hash_bucket2(F.col("doc_id"), RESAMPLE_BUCKETS)
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy("rk_bucket", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("keep_s"))
        .select("doc_id", "source", "keep_s", "n_s")
        .orderBy("doc_id")
    )

def domain_mix_sql() -> str:
    w = _domain_weight_sql("CAST(substring(source, 4) AS BIGINT)")
    return f"""
WITH d AS (
  SELECT doc_id, source, {w} AS w FROM documents),
counts AS (
  SELECT source, w, count(*) AS n_s FROM d GROUP BY source, w),
tot AS (SELECT sum(w) AS w_tot FROM counts),
budget AS (
  SELECT w_tot, min(CAST(n_s * w_tot AS BIGINT) // w) AS budget
  FROM counts, tot GROUP BY w_tot),
quota AS (
  SELECT source, n_s, CAST(budget * w AS BIGINT) // w_tot AS keep_s
  FROM counts, budget),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_bucket2_sql('doc_id', RESAMPLE_BUCKETS)}, doc_id)
           AS rn
  FROM d)
SELECT r.doc_id, r.source, CAST(q.keep_s AS BIGINT) AS keep_s,
       CAST(q.n_s AS BIGINT) AS n_s
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.rn <= q.keep_s
ORDER BY r.doc_id
"""


# -------------------------------------------- token-budget assembly

TOKEN_BUDGET = 600  # tokens kept per source


def token_budget_sample_sql(dialect: str = "duckdb") -> str:
    """Token-budget corpus assembly — "take N tokens per domain": docs
    are ordered per source by the Lehmer hash (a deterministic,
    content-independent shuffle — the same generator as the split
    buckets, so the selection is reproducible on any partitioning) and
    kept while the source's RUNNING token total stays within the
    budget. The op every fixed-token-recipe corpus build runs (e.g.
    "10M tokens per domain"); complements `curate_domain_mix` (doc-count
    proportions) with the token-denominated flavor.

    One window over a source-keyed shuffle (running sum in hash order),
    then a mapper-side filter — no joins, no second pass. Exact integer
    arithmetic only. The boundary rule is STRICT: a doc is kept iff the
    running total INCLUDING it is <= budget, so a boundary-crossing doc
    is dropped (deterministic, engine-independent).
    """
    toks = "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"
    size = "size" if dialect == "spark" else "len"
    h = _bucket_sql("doc_id", LEHMER_P)  # full-range hash, not % 100
    return f"""
WITH d AS (
  SELECT doc_id, source, CAST({size}({toks}) AS BIGINT) AS n_tokens,
         {h} AS h
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM d)
SELECT doc_id, source, n_tokens, CAST(running AS BIGINT) AS running
FROM cum
WHERE running <= {TOKEN_BUDGET}
ORDER BY source, running
"""


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget selection (deterministic hash order)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(token_budget_sample_sql("spark"))


# --------------------------------------------------- k-fold assignment

K_FOLDS = 5


def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment — the evaluation-protocol
    primitive: every document lands in exactly one of ``K_FOLDS`` folds
    via the second-round Lehmer hash (``hash_bucket2``), DECOUPLED from
    the train/val/test split bucket (``hash_bucket`` % 100 determines
    % 5, so reusing the first-round hash would make fold membership a
    function of split membership — the same coupling
    ``split_quality_resample`` avoids). Pure projection: zero shuffle,
    partitioning-independent, stable under corpus growth (a doc's fold
    never changes when other docs arrive — the property that makes
    fold-held-out eval reproducible across corpus versions).

    Output: (doc_id, fold) for every doc. Fold balance is pinned in
    tests (multinomial, not exact); train/eval composition for fold f
    is a WHERE clause, never a second pass. Reference scope: beyond
    dnstap2clickhouse; completes the splits family (fixed split /
    stratified sample / quality resample / token budget / k-fold).
    """
    df = load_table(spark, sf_dir, "documents")
    return (
        df.select("doc_id", hash_bucket2(F.col("doc_id"), K_FOLDS).alias("fold"))
        .orderBy("doc_id")
    )


def kfold_assign_sql() -> str:
    return f"""
SELECT doc_id, CAST({_bucket2_sql('doc_id', K_FOLDS)} AS BIGINT) AS fold
FROM documents ORDER BY doc_id
"""


# -------------------------------------------------- interleave schedule

#: per-language interleave weights (relative sampling rates in the
#: training stream) — integer so every schedule position is exact
MIX_WEIGHTS = {"en": 4, "de": 2, "zh": 2, "fr": 1, "es": 1}
MIX_DEFAULT_WEIGHT = 1
#: common scale for the interleave keys (any common multiple of the
#: doubled weights keeps ordering exact under integer division)
MIX_SCALE = 2520


def _mix_weight_sql(lang: str) -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN {w}" for k, w in sorted(MIX_WEIGHTS.items())
    )
    return f"CASE {lang} {arms} ELSE {MIX_DEFAULT_WEIGHT} END"


def interleave_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataloader interleave schedule — the step between
    domain mixing (which docs) and training (what order): lay the
    corpus out so each language appears at its target rate THROUGHOUT
    the stream, not in language-sized runs. Classic low-discrepancy
    interleave: the r-th doc of language l (weight w) gets key
    ``(2r-1)·S div (2w)`` — language l's docs land at the midpoints of
    a 1/w grid, so every schedule prefix holds each language within ~1
    item of its exact quota (pinned in tests). Ties break (lang,
    doc_id), all integers — bit-portable.

    Scale shape: per-language ranks come from the grouped
    :func:`global_prefix_sum` (never a per-language single-task
    window — one language is ~a fifth of a 100 TB corpus), and the
    global schedule position is a second prefix sum of ones over the
    key order (never an unpartitioned ``row_number``). The oracle uses
    the plain windows, fine at its scale. Output: (pos, doc_id, lang,
    sched_key). Reference scope: beyond dnstap2clickhouse; the
    data-loading-order analogue of ``curate_domain_mix``.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # distinct staging names per call site: two prefix sums under ONE
    # name with keep=2 would consume both retention slots per invocation,
    # expiring a previously returned handle one re-invocation early
    # (r6 ADVICE finding)
    ranked = global_prefix_sum(
        spark, docs.withColumn("__one", F.lit(1)), "doc_id", "__one", ("lang",),
        name="imix_rank1",
    ).selectExpr("doc_id", "lang", "__base + __local_end AS r")
    keyed = ranked.selectExpr(
        "doc_id",
        "lang",
        f"(2 * r - 1) * {MIX_SCALE} div (2 * ({_mix_weight_sql('lang')})) AS sched_key",
    ).withColumn("__one", F.lit(1))
    return (
        global_prefix_sum(spark, keyed, ("sched_key", "lang", "doc_id"), "__one", name="imix_rank2")
        .selectExpr("__base + __local_end AS pos", "doc_id", "lang", "sched_key")
        .orderBy("pos")
    )


def interleave_mix_sql() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS r
  FROM documents),
keyed AS (
  SELECT doc_id, lang,
         CAST((2 * r - 1) * {MIX_SCALE} // (2 * ({_mix_weight_sql('lang')})) AS BIGINT)
           AS sched_key
  FROM ranked)
SELECT CAST(row_number() OVER (ORDER BY sched_key, lang, doc_id) AS BIGINT) AS pos,
       doc_id, lang, sched_key
FROM keyed ORDER BY pos
"""


# --------------------------------------------------- epoch shuffling

#: Feistel half-domain: 2^12 each side -> permutation over 2^24 indices.
#: Production sizes this to the corpus (any power of two >= sqrt(N));
#: oversizing only sparsifies the permuted values, which the compaction
#: rank below absorbs.
EPOCH_HALF = 4096
EPOCH_ROUNDS = 3
EPOCHS = 2


def _feistel_perm_expr(idx: str, epoch: int, dialect: str) -> str:
    """Integer Feistel-network permutation of ``idx`` over
    [0, EPOCH_HALF^2), modular-addition flavor (L,R) -> (R, (L+f(R))
    mod H) — a bijection per round regardless of the round function,
    so EPOCH_ROUNDS rounds with epoch-keyed Lehmer round constants
    give a distinct deterministic shuffle per epoch. Everything is
    int64 arithmetic (R < 2^12, so R*A < 2^29 — no overflow anywhere),
    bit-identical across engines."""
    mod = "%"
    d = "div" if dialect == "spark" else "//"
    l = f"(({idx}) {d} {EPOCH_HALF})"
    r = f"(({idx}) {mod} {EPOCH_HALF})"
    for rnd in range(EPOCH_ROUNDS):
        c = (epoch * 7919 + rnd * 104729 + 12345) % LEHMER_P
        f = f"((({r}) * {LEHMER_A} + {c}) {mod} {LEHMER_P}) {mod} {EPOCH_HALF}"
        l, r = r, f"((({l}) + {f}) {mod} {EPOCH_HALF})"
    return f"(({l}) * {EPOCH_HALF} + ({r}))"


def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle — the data-loading
    primitive between packing (`split_token_chunks`) and the run loop:
    each epoch must visit every document exactly once in a different
    pseudorandom order, reproducibly, WITHOUT materializing and sorting
    a random column per epoch or keeping any RNG state.

    Shape: a Feistel permutation of the document's corpus rank (rank
    via the distributed prefix sum — never a single-task window), then
    the epoch order is the permuted value's sort order, compacted to
    contiguous positions by a second prefix sum of ones (the
    permutation domain is deliberately oversized, see EPOCH_HALF). The
    entry emits both epochs and certifies bijectivity in-band:
    ``bijective`` = (distinct permuted values == corpus size) per
    epoch, computed by both engines. Python replay + per-epoch
    position-permutation law pinned in tests. Reference scope: beyond
    dnstap2clickhouse; public technique (Black & Rogaway 2002
    cycle-free small-domain ciphers via oversized Feistel + rank
    compaction).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id").withColumn(
        "__one", F.lit(1)
    )
    # distinct staging names: see interleave_mix (r6 ADVICE finding)
    ranked = global_prefix_sum(spark, docs, "doc_id", "__one", name="feistel_rank1").selectExpr(
        "doc_id", "__base + __local_end - 1 AS idx"
    )
    epochs = None
    for ep in range(1, EPOCHS + 1):
        permed = ranked.selectExpr(
            "doc_id",
            f"CAST({ep} AS BIGINT) AS epoch",
            f"CAST({_feistel_perm_expr('idx', ep, 'spark')} AS BIGINT) AS perm_val",
        )
        epochs = permed if epochs is None else epochs.unionAll(permed)
    pos = global_prefix_sum(
        spark,
        epochs.withColumn("__one", F.lit(1)),
        ("perm_val", "doc_id"),
        "__one",
        ("epoch",),
        name="feistel_rank2",
    ).selectExpr("epoch", "doc_id", "perm_val", "__base + __local_end AS pos")
    cert = pos.groupBy("epoch").agg(
        (F.countDistinct("perm_val") == F.count(F.lit(1))).alias("bijective")
    )
    return (
        pos.join(cert, "epoch")
        .select("epoch", "doc_id", "perm_val", "pos", "bijective")
        .orderBy("epoch", "pos")
    )


def epoch_shuffle_sql() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT doc_id, CAST({ep} AS BIGINT) AS epoch, "
        f"CAST({_feistel_perm_expr('idx', ep, 'duckdb')} AS BIGINT) AS perm_val FROM ranked"
        for ep in range(1, EPOCHS + 1)
    )
    return f"""
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx FROM documents),
permed AS (
{arms}),
pos AS (
  SELECT epoch, doc_id, perm_val,
         CAST(row_number() OVER (PARTITION BY epoch ORDER BY perm_val, doc_id) AS BIGINT) AS pos
  FROM permed),
cert AS (
  SELECT epoch, count(DISTINCT perm_val) = count(*) AS bijective
  FROM pos GROUP BY epoch)
SELECT p.epoch, p.doc_id, p.perm_val, p.pos, c.bijective
FROM pos p JOIN cert c ON c.epoch = p.epoch
ORDER BY p.epoch, p.pos
"""


# ------------------------------------------- length-bucketed batching

LB_BOUNDS = (64, 128, 256, 512)  # token-length bucket upper bounds
LB_BATCH = 32  # documents per batch within a bucket


def length_buckets_sql(dialect: str = "duckdb") -> str:
    """Length-bucketed batch assembly — the dataloader "bucketing
    sampler" every padded-batch trainer uses (batch same-length-ish
    docs together so padding waste stays small): docs bucket by token
    count at the ``LB_BOUNDS`` thresholds, order INSIDE each bucket by
    the deterministic second-round Lehmer hash (the `split_kfold`
    decoupling discipline — batch composition must not correlate with
    the train split), and every ``LB_BATCH`` consecutive docs form a
    batch. Output is the per-batch manifest: size, max/sum token
    lengths, and the exact padding waste ``max*n - sum`` a padded
    collate would allocate — the number the bucketing exists to
    minimize (a test proves bucketing beats the unbucketed baseline).
    Plan: mapper-side bucket + ONE bucket-keyed window rank + one
    (bucket, batch) aggregate; nothing global."""
    size = "size" if dialect == "spark" else "len"
    toks = (
        "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"
    )
    div = "div" if dialect == "spark" else "//"
    b = _bucket2_sql("doc_id", LEHMER_P)  # full-range deterministic order key
    arms = " ".join(
        f"WHEN n_tok <= {t} THEN {i}" for i, t in enumerate(LB_BOUNDS)
    )
    return f"""
WITH lens AS (
  SELECT doc_id, CAST({size}({toks}) AS BIGINT) AS n_tok,
         CAST({b} AS BIGINT) AS ord
  FROM documents),
bucketed AS (
  SELECT doc_id, n_tok, ord,
         CAST(CASE {arms} ELSE {len(LB_BOUNDS)} END AS BIGINT) AS bucket
  FROM lens),
ranked AS (
  SELECT bucket, n_tok,
         row_number() OVER (PARTITION BY bucket ORDER BY ord, doc_id) AS rn
  FROM bucketed)
SELECT bucket, CAST((rn - 1) {div} {LB_BATCH} AS BIGINT) AS batch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tok) AS BIGINT) AS max_tok,
       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS pad_waste
FROM ranked
GROUP BY bucket, CAST((rn - 1) {div} {LB_BATCH} AS BIGINT)
ORDER BY bucket, batch
"""


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(bucket, batch) padded-collate manifest with exact waste."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(length_buckets_sql("spark"))


# ------------------------------------------- leakage-safe splitting


def _leakage_split_body() -> str:
    """Dialect-free downstream of the cluster labels: split docs by the
    hash of their near-dup CLUSTER id (not their own id), so a near-dup
    pair can never straddle train/test — the train/test-leakage failure
    mode naive per-doc splitting has (a test doc's near-duplicate in
    train inflates eval). The naive assignment rides along and both
    straddle counts are computed in-band: ``straddle_naive`` measures
    the leakage the safe split removes, ``straddle_safe`` is 0 by
    construction but COMPUTED, not asserted (the `graph_kcore`
    certificate discipline)."""
    cases = " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    )

    def split(key: str) -> str:
        return f"CASE {cases.replace('b >=', key + ' >=').replace('b <', key + ' <')} END"

    # rewrite CASE over an inline bucket expression per key
    safe = _bucket_sql("cluster_id")
    naive = _bucket_sql("doc_id")
    return f"""
lab AS (
  SELECT doc_id, cluster_id,
         {split(f"({safe})")} AS split_safe,
         {split(f"({naive})")} AS split_naive
  FROM cc),
per_cluster AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT split_safe) AS BIGINT) AS d_safe,
         CAST(count(DISTINCT split_naive) AS BIGINT) AS d_naive
  FROM lab GROUP BY cluster_id),
cert AS (
  SELECT CAST(sum(CASE WHEN n > 1 AND d_naive > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS straddle_naive,
         CAST(sum(CASE WHEN d_safe > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS straddle_safe
  FROM per_cluster)
SELECT l.doc_id, l.cluster_id, l.split_safe, l.split_naive,
       c.straddle_naive, c.straddle_safe
FROM lab l CROSS JOIN cert c
ORDER BY l.doc_id
"""


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-keyed split assignment over the near-dup CC labels, with
    in-band straddle certificates (safe = 0; naive measured)."""
    from ..functions.dedup import cc_clusters

    cc_clusters(spark, sf_dir).createOrReplaceTempView("cc_labels")
    return spark.sql("WITH cc AS (SELECT * FROM cc_labels)," + _leakage_split_body())


def leakage_safe_split_sql() -> str:
    from ..functions.dedup import _cc_reach_sql

    return (
        _cc_reach_sql()
        + ",\ncc AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id),"
        + _leakage_split_body()
    )


# ------------------------------------------- temporal split with embargo

EMB_TEST_DAYS = 7  # test = the last full week
EMB_GAP_DAYS = 1  # embargo: day between train end and test start is DROPPED


def temporal_embargo_sql(dialect: str = "duckdb") -> str:
    """Time-based train/test split with an EMBARGO gap — the temporal
    counterpart of `split_leakage_safe` (that one kills hash/near-dup
    leakage; this kills temporal leakage, the financial-ML "purged
    split": rows adjacent in time share state, so a gap between train
    and test keeps lookahead information out). Cuts are day-truncated
    off the corpus max (regeneration-proof): test takes the last
    ``EMB_TEST_DAYS`` days, the ``EMB_GAP_DAYS`` before that are
    dropped, the rest trains. Output: one row per split (plus the
    embargo row) with counts and exact microsecond time bounds, and an
    in-hash certificate that the train/test gap is >= the embargo in
    REAL time (computed from the actual min/max, not the cut
    definition). One scan, one 3-way CASE, one 3-row aggregate.
    """
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    return f"""
WITH cuts AS (
  SELECT date_trunc('day', max(ts)) - INTERVAL {EMB_TEST_DAYS} DAY AS test_start,
         date_trunc('day', max(ts)) - INTERVAL {EMB_TEST_DAYS + EMB_GAP_DAYS} DAY
           AS train_end
  FROM events),
labeled AS (
  SELECT CASE WHEN ts >= c.test_start THEN 'test'
              WHEN ts < c.train_end THEN 'train'
              ELSE 'embargo' END AS split,
         {us} AS us
  FROM events e CROSS JOIN cuts c),
agg AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n,
         CAST(min(us) AS BIGINT) AS min_us, CAST(max(us) AS BIGINT) AS max_us
  FROM labeled GROUP BY split),
cert AS (
  -- coalesce: an EMPTY train or test split nulls the scalar subqueries;
  -- the certificate must then read FALSE (failed), never silently NULL
  SELECT coalesce(CAST((SELECT min_us FROM agg WHERE split = 'test')
              - (SELECT max_us FROM agg WHERE split = 'train')
              >= {EMB_GAP_DAYS} * 86400000000 AS BOOLEAN), FALSE) AS gap_ok)
SELECT a.split, a.n, a.min_us, a.max_us, c.gap_ok
FROM agg a CROSS JOIN cert c
ORDER BY a.split
"""


def temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split summary with measured-gap certificate."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(temporal_embargo_sql("spark"))


# ------------------------------------------- split content checksums


def manifest_checksums_sql(dialect: str = "duckdb") -> str:
    """Per-split CONTENT CHECKSUM manifest — the reproducibility audit
    every dataset release ships ("did my train split change between
    builds?"): per split, document count, token mass, and an
    order-independent content fingerprint — the SUM of per-doc content
    hashes (md5-derived 28-bit, the module-shared `_hash_tok`
    arithmetic over the full text) — which any party can recompute
    from the data alone, in any engine, under any partitioning
    (addition commutes; the whole manifest is exact integers). One
    projection + one 3-row aggregate.
    """
    from .text import _hash_tok

    size = "size" if dialect == "spark" else "len"
    toks = "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"
    cases = " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    )
    h = _hash_tok(dialect, "text")
    return f"""
WITH labeled AS (
  SELECT CASE {cases} END AS split,
         CAST({size}({toks}) AS BIGINT) AS n_tok,
         CAST({h} AS BIGINT) AS content_h
  FROM (SELECT *, {_bucket_sql('doc_id')} AS b FROM documents))
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(content_h) AS BIGINT) AS content_checksum
FROM labeled
GROUP BY split
ORDER BY split
"""


def manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-split content fingerprints."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(manifest_checksums_sql("spark"))


# --------------------------------------------- rendezvous sharding

RV_SHARDS = 8  # current shard count; the entry also evaluates S+1


def rendezvous_shards_sql(dialect: str = "duckdb") -> str:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1998) — the consistent-assignment scheme shard routers and
    partitioned caches use: a key lives on the shard maximizing
    ``h(key, shard)``. The entry assigns every document under
    ``RV_SHARDS`` and under ``RV_SHARDS + 1`` shards and emits, per
    NEW-topology shard: key count under each topology, how many keys
    MOVED, and the HRW minimal-movement CERTIFICATE — a key changes
    assignment iff the NEW shard wins it (so moved == gained-by-new,
    exactly 0 for every pre-existing shard, and the moved total is the
    ~1/(S+1) resharding cost instead of mod-hashing's ~S/(S+1)). Both
    computed by both engines, so the hash match certifies the scheme's
    defining property, not just counts.

    Scale shape: the argmax is a fixed (S+1)-way explode + one
    key-keyed max-struct aggregate (map-side partials); the report is
    a shard-keyed aggregate onto <= S+1 rows. At 100 TB this IS the
    shard manifest builder; the explode constant is the shard count,
    not the corpus.
    """
    from .text import _hash_tok

    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        series = f"explode(sequence(0, {RV_SHARDS}))"  # shard S is the new one
        key = f"concat(CAST(doc_id AS {s}), '@', CAST(shard AS {s}))"
        strct = "named_struct('w', w, 's', shard)"
    else:
        series = f"unnest(generate_series(0, {RV_SHARDS}))"
        key = f"CAST(doc_id AS {s}) || '@' || CAST(shard AS {s})"
        strct = "{'w': w, 's': shard}"
    h = _hash_tok(dialect, key)
    return f"""
WITH weights AS (
  SELECT doc_id, shard, {h} AS w
  FROM (SELECT doc_id, {series} AS shard FROM documents) r),
assign AS (
  SELECT doc_id,
         max(CASE WHEN shard < {RV_SHARDS} THEN {strct} END) AS old_m,
         max({strct}) AS new_m
  FROM weights GROUP BY doc_id),
moves AS (
  SELECT doc_id, (old_m).s AS old_shard, (new_m).s AS new_shard
  FROM assign),
old AS (
  SELECT old_shard AS shard, CAST(count(*) AS BIGINT) AS n_keys_old
  FROM moves GROUP BY old_shard),
new_ AS (
  SELECT new_shard AS shard,
         CAST(count(*) AS BIGINT) AS n_keys_new,
         CAST(sum(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END)
              AS BIGINT) AS n_moved,
         CAST(sum(CASE WHEN old_shard <> new_shard
                        AND new_shard <> {RV_SHARDS} THEN 1 ELSE 0 END) = 0
              AS BOOLEAN) AS hrw_minimal_movement
  FROM moves GROUP BY new_shard)
SELECT n.shard, coalesce(o.n_keys_old, CAST(0 AS BIGINT)) AS n_keys_old,
       n.n_keys_new, n.n_moved, n.hrw_minimal_movement
FROM new_ n LEFT JOIN old o ON o.shard = n.shard
ORDER BY 1
"""


def rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard HRW assignment counts + resharding movement audit."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(rendezvous_shards_sql("spark"))


# --------------------------------------------- uncertainty sampling

UNCERTAIN_K = 25  # docs surfaced for labeling per round


def uncertainty_sample_sql(dialect: str = "duckdb") -> str:
    """Active-learning UNCERTAINTY SAMPLING — the model-in-the-loop
    labeling step of a curation pipeline: surface the ``UNCERTAIN_K``
    documents whose quality-classifier logit (`text_quality_logit`'s
    score, same fixed-weight plug point) sits CLOSEST to the keep
    threshold. Those are the docs where a human label (or a stronger
    teacher model) buys the most classifier improvement per annotation
    — margin-based uncertainty sampling, the standard first move of
    every labeling loop. Emits rank, doc, logit, the absolute margin
    to the threshold, and which side the doc currently falls on.

    Scale shape: the scoring pass is `text_quality_logit`'s (one
    explode + doc-keyed aggregate, mapper-side weights); the selection
    is TakeOrderedAndProject on (margin, doc_id) — no new shuffle
    class at any corpus size.
    """
    from .text import LOGIT_KEEP_E6, quality_logit_sql

    scored = quality_logit_sql(dialect).replace("ORDER BY doc_id", "")
    return f"""
WITH scored AS ({scored}),
margins AS (
  SELECT doc_id, logit_e6, keep,
         abs(logit_e6 - {LOGIT_KEEP_E6}) AS margin_e6
  FROM scored),
picked AS (
  SELECT doc_id, logit_e6, keep, margin_e6
  FROM margins
  ORDER BY margin_e6, doc_id
  LIMIT {UNCERTAIN_K})
SELECT CAST(row_number() OVER (ORDER BY margin_e6, doc_id) AS BIGINT) AS rank,
       doc_id, logit_e6, margin_e6, keep
FROM picked
ORDER BY rank
"""


def uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``UNCERTAIN_K`` docs nearest the quality-gate threshold."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(uncertainty_sample_sql("spark"))
