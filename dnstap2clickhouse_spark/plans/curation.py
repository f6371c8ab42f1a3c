"""End-to-end corpus-curation pipeline — the composed training-data
flagship: token stats → quality gate → exact-dedup survivor selection →
deterministic split assignment, in ONE declarative plan.

Each stage exists standalone (functions/text.py, functions/dedup.py,
functions/splits.py); this plan proves they compose into the pipeline a
pretraining-data team actually runs, and that the whole thing stays
inside Catalyst: the quality gate is a codegen'd projection+filter, the
dedup survivor is one shuffle (window over the bag key), the split is a
pure projection. Total: two shuffles (dedup key, final demo sort) over
any corpus size — no collects, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.splits import SPLIT_BOUNDS, _bucket_sql, assign_split
from ..functions.text import _quality_expr, _stats_exprs
from ..sources.tables import load_table

QUALITY_MIN = 0.55

def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving documents with quality score and split assignment.

    Survivor rule: the lowest doc_id per bag-of-words key (md5 of the
    sorted token list — catches exact texts and word-order shuffles)
    among the docs that pass the quality gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.selectExpr(
        *_stats_exprs("spark"), "lang", "md5(concat_ws(' ', array_sort(split(text, ' ')))) AS bag_key"
    )
    scored = stats.withColumn("quality", F.expr(_quality_expr()))
    gated = scored.filter(F.col("quality") >= QUALITY_MIN)
    w = Window.partitionBy("bag_key")
    survivors = (
        gated.withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(w))
        .filter(F.col("doc_id") == F.col("canonical_id"))
    )
    return (
        assign_split(survivors)
        .select("doc_id", "lang", "n_tokens", "quality", "n_dups", "split")
        .orderBy("doc_id")
    )

def curate_corpus_sql() -> str:
    stats = ",\n         ".join(_stats_exprs("duckdb"))
    cases = " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    )
    return f"""
WITH stats AS (
  SELECT {stats},
         lang,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_key
  FROM documents),
scored AS (
  SELECT *, {_quality_expr()} AS quality FROM stats),
gated AS (
  SELECT * FROM scored WHERE quality >= {QUALITY_MIN}),
survivors AS (
  SELECT *,
         min(doc_id) OVER (PARTITION BY bag_key) AS canonical_id,
         count(*) OVER (PARTITION BY bag_key) AS n_dups
  FROM gated)
SELECT doc_id, lang, n_tokens, quality, n_dups,
       CASE {cases} END AS split
FROM (SELECT *, {_bucket_sql('doc_id')} AS b FROM survivors)
WHERE doc_id = canonical_id
ORDER BY doc_id
"""

# ------------------------------------------------- full modern pipeline

def curate_corpus_v2_sql(dialect: str = "duckdb") -> str:
    """The complete modern curation chain in ONE declarative plan:
    quality gate → repetition gate → benchmark decontamination →
    near-dup suppression (LSH-verified pairs, greedy drop-max) →
    quality-weighted resample → split assignment.

    Near-dup suppression here is the *greedy pair* rule (drop ``doc_b``
    of every verified pair) rather than full connected components —
    that keeps the plan iteration-free/declarative, and is the standard
    production shortcut; ``dedup_cc_clusters`` is the exact clustering
    flavor when cluster identity matters.

    Shuffle census at any scale: repetition's two-stage bigram count,
    decontamination's doc_id hit count (its gram probe is a broadcast),
    the LSH candidate join, and the final sort — everything else is
    codegen'd projection/filter fused into the scan.
    """
    from ..functions.dedup import _lsh_verified_sql
    from ..functions.splits import RESAMPLE_BUCKETS, RESAMPLE_SCALE, _bucket2_sql
    from ..functions.text import (
        EVAL_SOURCE,
        decontaminate_sql,
        repetition_filter_sql,
    )

    rep = repetition_filter_sql(dialect).replace("ORDER BY doc_id", "")
    dec = decontaminate_sql(dialect).replace("ORDER BY d.doc_id", "")
    vp = _lsh_verified_sql(dialect)
    stats = ",\n         ".join(_stats_exprs(dialect))
    cases = " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, (lo, hi) in SPLIT_BOUNDS.items()
    )
    return f"""
WITH rep AS ({rep}),
dec AS ({dec}),
vp AS ({vp}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM vp),
stats AS (
  SELECT {stats},
         lang
  FROM documents WHERE source <> '{EVAL_SOURCE}'),
scored AS (SELECT *, {_quality_expr()} AS quality FROM stats),
kept AS (
  SELECT s.doc_id, s.lang, s.n_tokens, s.quality
  FROM scored s
  JOIN rep r ON r.doc_id = s.doc_id AND r.keep
  JOIN dec c ON c.doc_id = s.doc_id AND NOT c.contaminated
  LEFT JOIN dropped v ON v.doc_id = s.doc_id
  WHERE s.quality >= {QUALITY_MIN}
    AND v.doc_id IS NULL
    AND {_bucket2_sql('s.doc_id', RESAMPLE_BUCKETS)} < s.quality * {RESAMPLE_SCALE} * {RESAMPLE_BUCKETS})
SELECT doc_id, lang, n_tokens, quality, CASE {cases} END AS split
FROM (SELECT *, {_bucket_sql('doc_id')} AS b FROM kept)
ORDER BY doc_id
"""

def curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full modern curation pipeline (see ``curate_corpus_v2_sql``)."""
    from ..functions.dedup import _register

    # same spread-and-register as the dedup chain this plan embeds
    _register(spark, sf_dir)
    return spark.sql(curate_corpus_v2_sql("spark"))

def curate_corpus_v3_sql(dialect: str = "duckdb") -> str:
    """v2 plus the SEMANTIC gate — the two-modality curation chain a
    current pretraining pipeline runs (DCLM/Llama-style): the text side
    (quality → repetition → decontamination → LSH-verified lexical
    near-dups) composed with SemDeDup over the embedding shard
    (``dedup_semantic``: cosine dedup within k-means clusters), keyed by
    the shared id space (``doc_id == vec_id`` — how a production corpus
    keys its text and embedding shards).

    Built by splicing the semantic verdict into ``curate_corpus_v2_sql`` as a
    derived-table LEFT JOIN (join only to DROPPED verdicts; survivors
    see NULL), so the v2 plan text — and everything audited about it —
    is reused verbatim. A doc missing from the embedding shard passes
    the semantic gate (LEFT JOIN), matching ingest reality where
    embeddings lag the text.

    Extra shuffle census over v2: the k-means assignment (K-row
    broadcast + one (cluster, dim) shuffle) and the intra-cluster pair
    join — the quarantined-quadratic contract documented on
    ``dedup_semantic`` applies unchanged.
    """
    from ..functions.similarity import semantic_dedup_sql

    v2 = curate_corpus_v2_sql(dialect)
    sem = semantic_dedup_sql(dialect).replace("ORDER BY m.vec_id", "").strip()
    join_anchor = "  LEFT JOIN dropped v ON v.doc_id = s.doc_id\n"
    pred_anchor = "    AND v.doc_id IS NULL\n"
    # EACH anchor must appear exactly once — a drifted single anchor would
    # otherwise splice the join but drop the filter (or vice versa) and
    # silently degenerate v3 to v2 in BOTH engines, invisible to the oracle
    for anchor in (join_anchor, pred_anchor):
        if v2.count(anchor) != 1:
            raise RuntimeError(f"curate_v3 splice anchor drifted: {anchor!r}")
    return v2.replace(
        join_anchor,
        join_anchor
        + f"  LEFT JOIN (\n{sem}\n) sem ON sem.vec_id = s.doc_id AND NOT sem.kept\n",
    ).replace(pred_anchor, pred_anchor + "    AND sem.vec_id IS NULL\n")

def curate_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-modality curation: the v2 text chain + the SemDeDup gate."""
    from ..functions.dedup import _register as _register_docs
    from ..functions.similarity import _register as _register_emb

    _register_docs(spark, sf_dir)
    _register_emb(spark, sf_dir)
    return spark.sql(curate_corpus_v3_sql("spark"))


# --------------------------------------------------------- dataset card

def dataset_card_sql(dialect: str = "duckdb") -> str:
    """One-row corpus datasheet — the summary block of a dataset card
    (Gebru et al., "Datasheets for Datasets"): document count, token
    mass, language/source diversity, exact-duplicate rate, and mean
    document length, all from ONE pass over the corpus.

    Every per-doc feature (token count, exact-dup bag key) is computed
    in a single projection and reduced by one multi-aggregate — no
    second scan, no joins; rates are exact e6 integers. The bag key is
    literally ``dedup.exact``'s identity expression, so the dup rate
    here is definitionally consistent with the dedup pipeline's.
    """
    from ..functions.dedup import _bag_key_expr
    from ..functions.text import _toks

    size = "size" if dialect == "spark" else "len"
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH per_doc AS (
  SELECT doc_id, lang, source,
         CAST({size}({_toks(dialect)}) AS BIGINT) AS n_tokens,
         {_bag_key_expr(dialect)} AS bag
  FROM documents),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(*) - count(DISTINCT bag) AS BIGINT) AS n_exact_dups
  FROM per_doc)
SELECT n_docs, total_tokens, n_langs, n_sources, n_exact_dups,
       -- quotient/remainder split: total_tokens * 1e6 would overflow
       -- BIGINT near ~9e12 total tokens (a few-TB corpus); this form is
       -- exact and stays in range at any corpus size
       (total_tokens {idiv} n_docs) * 1000000
         + ((total_tokens % n_docs) * 1000000) {idiv} n_docs AS mean_tokens_e6,
       (n_exact_dups * 1000000) {idiv} n_docs AS dup_rate_e6
FROM agg
"""

def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet summary row (exact integers throughout)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(dataset_card_sql("spark"))


# ------------------------------------------------ pipeline yield report

YIELD_STAGES = ("corpus", "quality", "repetition", "decontam", "near_dup", "resample")


def yield_report_sql(dialect: str = "duckdb") -> str:
    """Per-gate YIELD funnel of the v2 curation pipeline — the ops
    readout a pipeline owner reads before anything else (which gate is
    eating the corpus? did a config change move a stage's drop rate?):
    every v2 gate's survivor count as the gates apply cumulatively, in
    the chain's documented order. Built by string surgery on
    ``curate_corpus_v2_sql``'s prefix (the audited gate relations themselves
    — `rep`, `dec`, `dropped`, `scored` — so the report cannot drift
    from the pipeline), with each gate reduced to a 0/1 flag and the
    funnel one aggregate of running conjunctions. The final stage's
    count equals `curate_corpus_v2`'s cardinality by construction
    (conjunctive gates — pinned in tests). Output: one row per stage
    with in/out/dropped counts.
    """
    from ..functions.splits import RESAMPLE_BUCKETS, RESAMPLE_SCALE, _bucket2_sql

    v2 = curate_corpus_v2_sql(dialect)
    prefix = v2[: v2.index("kept AS (")].rstrip().rstrip(",") + ","
    rs = f"{_bucket2_sql('s.doc_id', RESAMPLE_BUCKETS)} < s.quality * {RESAMPLE_SCALE} * {RESAMPLE_BUCKETS}"
    if dialect == "spark":
        # ONE reference to `funnel`: unpivot the single aggregate row
        # with inline(array(struct(...))). Spark INLINES multi-referenced
        # CTEs (0 ReusedExchange — measured), so the historical 6-arm
        # UNION re-executed the whole v2 gate pipeline per stage: 25
        # document-text scans in one plan (the audit census line). This
        # form runs the pipeline once; DuckDB keeps the UNION form
        # byte-for-byte (oracle stability) — its CTEs materialize, so
        # the UNION is already single-pass there.
        structs = []
        for i, gate in enumerate(YIELD_STAGES):
            prev = "n0" if i == 0 else f"n{i - 1}"
            structs.append(
                f"    struct(CAST({i} AS BIGINT) AS stage, '{gate}' AS gate, "
                f"{prev} AS n_in, n{i} AS n_out, {prev} - n{i} AS n_dropped)"
            )
        arr = ",\n".join(structs)
        stages = (
            "SELECT stage, gate, n_in, n_out, n_dropped\n"
            f"FROM funnel\nLATERAL VIEW inline(array(\n{arr})) t"
        )
    else:
        stage_rows = []
        for i, gate in enumerate(YIELD_STAGES):
            prev = "n0" if i == 0 else f"n{i - 1}"
            stage_rows.append(
                f"SELECT CAST({i} AS BIGINT) AS stage, '{gate}' AS gate, "
                f"{prev} AS n_in, n{i} AS n_out, {prev} - n{i} AS n_dropped FROM funnel"
            )
        stages = "\nUNION ALL\n".join(stage_rows)
    return f"""{prefix}
flags AS (
  SELECT s.doc_id,
         CAST(CASE WHEN s.quality >= {QUALITY_MIN} THEN 1 ELSE 0 END AS BIGINT) AS f_q,
         CAST(CASE WHEN r.keep THEN 1 ELSE 0 END AS BIGINT) AS f_rep,
         CAST(CASE WHEN NOT c.contaminated THEN 1 ELSE 0 END AS BIGINT) AS f_dec,
         CAST(CASE WHEN v.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS f_dup,
         CAST(CASE WHEN {rs} THEN 1 ELSE 0 END AS BIGINT) AS f_rs
  FROM scored s
  JOIN rep r ON r.doc_id = s.doc_id
  JOIN dec c ON c.doc_id = s.doc_id
  LEFT JOIN dropped v ON v.doc_id = s.doc_id),
funnel AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(f_q) AS BIGINT) AS n1,
         CAST(sum(f_q * f_rep) AS BIGINT) AS n2,
         CAST(sum(f_q * f_rep * f_dec) AS BIGINT) AS n3,
         CAST(sum(f_q * f_rep * f_dec * f_dup) AS BIGINT) AS n4,
         CAST(sum(f_q * f_rep * f_dec * f_dup * f_rs) AS BIGINT) AS n5
  FROM flags)
{stages}
ORDER BY stage
"""


def yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-gate survivor funnel of the v2 pipeline."""
    from ..functions.dedup import _register

    _register(spark, sf_dir)
    return spark.sql(yield_report_sql("spark"))


# ------------------------------------------------ per-source scorecard


def source_scorecard_sql(dialect: str = "duckdb") -> str:
    """Per-SOURCE curation scorecard — the "which crawls earn their
    spot in the mix" decision input (`curate_domain_mix` sets
    proportions; THIS is the evidence table it is set from): for every
    source, document count, mean quality (per-doc e6-quantized before
    summing, so the mean is exact integer arithmetic — no float sum
    order anywhere), and each gate's failure count (low quality,
    repetition, contamination, near-dup), plus the final kept count
    under the full v2 rule. Gate relations are `curate_corpus_v2_sql`'s own
    CTEs (the `curate_yield_report` splice), so the scorecard cannot
    disagree with the pipeline. Plan: the gate relations + one
    source-keyed aggregate (source domain is small; output is
    source-bounded).
    """
    from ..functions.splits import RESAMPLE_BUCKETS, RESAMPLE_SCALE, _bucket2_sql

    v2 = curate_corpus_v2_sql(dialect)
    prefix = v2[: v2.index("kept AS (")].rstrip().rstrip(",") + ","
    div = "div" if dialect == "spark" else "//"
    rs = f"{_bucket2_sql('s.doc_id', RESAMPLE_BUCKETS)} < s.quality * {RESAMPLE_SCALE} * {RESAMPLE_BUCKETS}"
    return f"""{prefix}
per_doc AS (
  SELECT d.source,
         CAST(round(s.quality * 1000000) AS BIGINT) AS q_e6,
         CAST(CASE WHEN s.quality < {QUALITY_MIN} THEN 1 ELSE 0 END AS BIGINT) AS f_lowq,
         CAST(CASE WHEN r.keep THEN 0 ELSE 1 END AS BIGINT) AS f_rep,
         CAST(CASE WHEN c.contaminated THEN 1 ELSE 0 END AS BIGINT) AS f_con,
         CAST(CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS f_dup,
         CAST(CASE WHEN s.quality >= {QUALITY_MIN} AND r.keep
                    AND NOT c.contaminated AND v.doc_id IS NULL
                    AND {rs} THEN 1 ELSE 0 END AS BIGINT) AS kept
  FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
  JOIN rep r ON r.doc_id = s.doc_id
  JOIN dec c ON c.doc_id = s.doc_id
  LEFT JOIN dropped v ON v.doc_id = s.doc_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q_e6) AS BIGINT) {div} CAST(count(*) AS BIGINT) AS mean_q_e6,
       CAST(sum(f_lowq) AS BIGINT) AS n_low_quality,
       CAST(sum(f_rep) AS BIGINT) AS n_repetitive,
       CAST(sum(f_con) AS BIGINT) AS n_contaminated,
       CAST(sum(f_dup) AS BIGINT) AS n_near_dup,
       CAST(sum(kept) AS BIGINT) AS n_kept
FROM per_doc
GROUP BY source
ORDER BY source
"""


def source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source gate-failure and yield profile from the v2 relations."""
    from ..functions.dedup import _register

    _register(spark, sf_dir)
    return spark.sql(source_scorecard_sql("spark"))


# ------------------------------------------- decontamination certificate


def decontam_certificate_sql(dialect: str = "duckdb") -> str:
    """End-to-end decontamination CERTIFICATE over the v2 pipeline's
    FINAL output: re-derive the held-out eval split's 8-gram set,
    re-probe every document that survived the full curation chain
    (quality -> repetition -> decontamination -> near-dup suppression
    -> resample -> split), and emit per final split the doc count, the
    count of still-contaminated docs, and the certificate boolean —
    which must read 0 / TRUE for every split. The self-certifying
    pattern (`text_pii_scrub`): the gate is checked on the OUTPUT, not
    trusted from the plan, so a regression anywhere in the chain (a
    dropped filter, a join that resurrects rows) flips a driver-hashed
    value. This is the release-blocking eval-leakage audit a training
    run signs off on.

    Scale shape: the v2 plan's own census plus one more broadcast
    gram probe (eval grams are benchmark-sized) and one split-keyed
    aggregate onto <= |splits| rows.
    """
    from ..functions.text import DECONTAM_K, EVAL_SOURCE, _kgram_rows

    v2 = curate_corpus_v2_sql(dialect).replace("ORDER BY doc_id", "")
    train_rows = _kgram_rows(dialect, DECONTAM_K, f"WHERE source <> '{EVAL_SOURCE}'")
    eval_rows = _kgram_rows(dialect, DECONTAM_K, f"WHERE source = '{EVAL_SOURCE}'")
    hint = "/*+ BROADCAST(eg) */ " if dialect == "spark" else ""
    return f"""
WITH corpus AS ({v2}),
eg AS (SELECT DISTINCT gram FROM ({eval_rows})),
tg AS (SELECT DISTINCT doc_id, gram FROM ({train_rows})),
hits AS (
  SELECT {hint}tg.doc_id
  FROM tg JOIN eg ON tg.gram = eg.gram
  GROUP BY tg.doc_id),
flagged AS (
  SELECT c.split,
         CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
  FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
       CAST(sum(contaminated) = 0 AS BOOLEAN) AS decontaminated
FROM flagged
GROUP BY split
ORDER BY split
"""


def decontam_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split eval-leakage certificate over the v2 final output."""
    from ..functions.dedup import _register

    _register(spark, sf_dir)
    return spark.sql(decontam_certificate_sql("spark"))


# ------------------------------------------- temperature-scaled mixture

def mixture_temperature_sql(dialect: str = "duckdb") -> str:
    """Temperature-scaled source mixture — the data-recipe move every
    modern pretraining run makes (LLaMA/Gopher report tau ~ 0.5-0.7):
    raw per-source doc counts are flattened to ``n^(1/tau^-1) =
    sqrt(n)`` weights so small high-quality sources are upsampled
    relative to proportional mixing. Emits per source the raw count,
    the integer ``floor(sqrt(n))`` weight, both mixtures' exact e6
    shares, and the upsample factor (temperature share / proportional
    share) — the table a sampler is configured from.

    Determinism: ``floor(sqrt(n))`` on BIGINT counts is bit-portable —
    for n < 2^52 the IEEE-double sqrt of an integer is exactly
    rounded, so its floor is identical in both engines (the one
    deliberate float in this module, with the bound documented); at
    larger counts use integer Newton iteration. Scale shape: one
    source-keyed count (map-side partials) onto the source domain;
    everything else is windows over that table.
    """
    idiv = "div" if dialect == "spark" else "//"
    # sqrt below: tau = 1/2, weight = n^(1/2) (the LLaMA recipe)
    return f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
weighted AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
  FROM counts)
SELECT source, n_docs, w AS weight,
       CAST((n_docs * 1000000) {idiv} sum(n_docs) OVER () AS BIGINT)
         AS prop_share_e6,
       CAST((w * 1000000) {idiv} sum(w) OVER () AS BIGINT)
         AS temp_share_e6,
       CAST(((w * 1000000) {idiv} sum(w) OVER ()) * 1000000
            {idiv} ((n_docs * 1000000) {idiv} sum(n_docs) OVER ())
            AS BIGINT) AS upsample_e6
FROM weighted
ORDER BY source
"""


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source proportional vs temperature-scaled mixture shares."""
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(mixture_temperature_sql("spark"))


# ------------------------------------------- pipeline version diff


def version_diff_sql(dialect: str = "duckdb") -> str:
    """Dataset RELEASE DIFF between pipeline versions — the regression
    report a data team reads before shipping a recipe change: full
    outer join of the v2 and v3 final corpora on doc_id, rolled up per
    split into kept-by-both / dropped-by-v3 / (would-be) added-by-v3
    counts plus exact e6 retention. Since v3 = v2 + the semantic gate,
    ``added`` must be 0 and ``dropped_by_v3`` is exactly the
    SemDeDup-rejected mass — the entry certifies that structural
    relationship on the final outputs (the
    `curate_decontam_certificate` discipline: check the OUTPUT, don't
    trust the plan).

    Scale shape: both pipelines' own censuses, plus one doc-keyed full
    outer join and a <= |splits|-row rollup.
    """
    v2 = curate_corpus_v2_sql(dialect).replace("ORDER BY doc_id", "")
    v3 = curate_corpus_v3_sql(dialect).replace("ORDER BY doc_id", "")
    return f"""
WITH a AS ({v2}),
b AS ({v3}),
j AS (
  SELECT coalesce(a.split, b.split) AS split,
         CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS both_,
         CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NULL THEN 1 ELSE 0 END AS dropped,
         CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END AS added
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT split,
       CAST(sum(both_) AS BIGINT) AS kept_by_both,
       CAST(sum(dropped) AS BIGINT) AS dropped_by_v3,
       CAST(sum(added) AS BIGINT) AS added_by_v3,
       CAST((sum(both_) * 1000000) {'div' if dialect == 'spark' else '//'}
            (sum(both_) + sum(dropped)) AS BIGINT) AS retention_e6
FROM j GROUP BY split
ORDER BY split
"""


def version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split v2-vs-v3 release diff (kept/dropped/added + retention)."""
    from ..functions.dedup import _register as _register_docs
    from ..functions.similarity import _register as _register_emb

    _register_docs(spark, sf_dir)
    _register_emb(spark, sf_dir)
    return spark.sql(version_diff_sql("spark"))
