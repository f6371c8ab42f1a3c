"""Text analysis for training-data pipelines over ``documents``.

Everything stays JVM-side (built-in string/array functions — no Python
UDFs in the hot path): token counting, quality scoring, language-ID
heuristic, and document fingerprinting (md5 + polynomial rolling hash).

Determinism rules: ratios divide exact integers (bit-identical across
engines); the rolling hash folds left-to-right mod 2^31-1 in both
dialects.

Scale note: all are narrow per-row transforms — no shuffle at all except
the final ORDER BY used for stable test output; at 100 TB these run as a
single mapper stage fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

#: heuristic English markers (must exist in the corpus vocabulary)
STOPWORDS = ("the", "a")
LANG_THRESHOLD = 0.04

_MOD = 2_147_483_647  # 2^31 - 1: keeps acc*31+h < 2^63

def _hash_tok(dialect: str, tok: str) -> str:
    """28-bit deterministic token hash from md5 hex, both dialects."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({tok}), 1, 7), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5({tok}), 1, 7))::BIGINT"

def _toks(dialect: str) -> str:
    return "split(text, ' ')" if dialect == "spark" else "string_split(text, ' ')"

def _stop_pred(tok: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"{tok} IN ({quoted})"

def _stats_exprs(dialect: str) -> list[str]:
    toks = _toks(dialect)
    size = "size" if dialect == "spark" else "len"
    distinct = "array_distinct" if dialect == "spark" else "list_distinct"
    filt = "filter" if dialect == "spark" else "list_filter"
    return [
        "doc_id",
        f"CAST({size}({toks}) AS BIGINT) AS n_tokens",
        "CAST(length(text) AS BIGINT) AS n_chars_calc",
        f"CAST({size}({distinct}({toks})) AS BIGINT) AS n_distinct",
        f"CAST({size}({filt}({toks}, t -> {_stop_pred('t')})) AS BIGINT) AS n_stop",
    ]

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / char / distinct / stopword counts per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(*_stats_exprs("spark")).orderBy("doc_id")

def text_stats_sql() -> str:
    sel = ",\n       ".join(_stats_exprs("duckdb"))
    return f"SELECT {sel}\nFROM documents ORDER BY doc_id"

def _quality_expr() -> str:
    # exact-integer divisions -> deterministic doubles; identical text in
    # both dialects (all referenced columns come from the stats projection)
    return (
        "(1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5 "
        "+ (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3 "
        "+ (CASE WHEN n_tokens >= 20 AND n_tokens <= 400 THEN 0.2 ELSE 0.0 END)"
    )

def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: stopword density, type-token ratio,
    length band — the usual pretraining heuristics, all JVM-side."""
    stats = text_stats(spark, sf_dir)
    return stats.selectExpr("doc_id", f"{_quality_expr()} AS quality").orderBy("doc_id")

def quality_scores_sql() -> str:
    return (
        f"SELECT doc_id, {_quality_expr()} AS quality\n"
        f"FROM ({text_stats_sql().replace(' ORDER BY doc_id', '')}) ORDER BY doc_id"
    )

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language heuristic. (The corpus ``lang`` column is
    random w.r.t. the text, so this scores deterministically rather than
    predicting the label; parity with the oracle is the correctness bar.)"""
    stats = text_stats(spark, sf_dir)
    return stats.selectExpr(
        "doc_id",
        "CAST(n_stop AS DOUBLE) / n_tokens AS en_score",
        f"CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= {LANG_THRESHOLD} THEN 'en' ELSE 'unk' END AS predicted",
    ).orderBy("doc_id")

def lang_id_sql() -> str:
    inner = text_stats_sql().replace(" ORDER BY doc_id", "")
    return (
        f"SELECT doc_id,\n"
        f"       CAST(n_stop AS DOUBLE) / n_tokens AS en_score,\n"
        f"       CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= {LANG_THRESHOLD} THEN 'en' ELSE 'unk' END AS predicted\n"
        f"FROM ({inner}) ORDER BY doc_id"
    )

#: BPE-ish pre-tokenization split: letter runs, digit runs, other symbols
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

def regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pre-tokenizer regex (letter runs /
    digit runs / punctuation), alongside the whitespace count — the two
    standard denominators for tokens-per-doc budgeting."""
    toks = _toks("spark")
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"CAST(size({toks}) AS BIGINT) AS n_ws_tokens",
        f"CAST(size(regexp_extract_all(text, '{BPE_PATTERN}', 0)) AS BIGINT) AS n_bpe_tokens",
    ).orderBy("doc_id")

def regex_tokens_sql() -> str:
    toks = _toks("duckdb")
    return f"""
SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""

#: Gopher-style repetition gates (Rae et al. 2021, table A1 analogues):
#: docs whose duplicate-bigram fraction or single-most-frequent-bigram
#: share is too high are repetition spam
DUP_BIGRAM_MAX = 0.20
TOP_BIGRAM_MAX = 0.18

def _bigrams(dialect: str) -> str:
    """Word-bigram array from the space-tokenized text.

    Spark form is ``zip_with`` over two slices of a pre-computed ``toks``
    column: safe for 0/1-token documents (both slices are empty, yielding
    ``[]`` — whereas ``sequence(1, size-1)`` with size=1 produces the
    DESCENDING array [1, 0] and ``element_at`` throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT), and the slice arguments sit
    outside any lambda so ``toks`` is not re-evaluated per element.
    DuckDB's ``generate_series(1, 0)`` is already empty for short docs."""
    if dialect == "spark":
        return (
            "zip_with(slice(toks, 1, size(toks) - 1), "
            "slice(toks, 2, size(toks) - 1), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    toks = _toks("duckdb")
    return (
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1])"
    )

def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-spam detection (the Gopher/C4 quality-filter family):
    per document, the fraction of duplicated word bigrams and the share
    of the single most frequent bigram; ``keep`` applies the gates.

    Scale shape: explode to (doc_id, bigram) then ONE shuffle keyed on
    (doc_id, bigram) with map-side partial counts, then a second partial
    agg back to doc_id. Keys are near-unique per doc — no skew; at 100 TB
    this is the same two-stage shape as a word count.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(repetition_filter_sql("spark"))

def repetition_filter_sql(dialect: str = "duckdb") -> str:
    bg = _bigrams(dialect)
    if dialect == "spark":
        # toks computed once in an inner projection (split would otherwise
        # run once per slice reference); explode drops 0/1-token docs, the
        # same rows DuckDB's empty unnest drops
        per_bigram = (
            f"SELECT doc_id, bigram, COUNT(*) AS c\n"
            f"FROM (SELECT doc_id, explode({bg}) AS bigram\n"
            f"      FROM (SELECT doc_id, {_toks('spark')} AS toks FROM documents))\n"
            f"GROUP BY doc_id, bigram"
        )
    else:
        per_bigram = (
            f"SELECT doc_id, bigram, COUNT(*) AS c\n"
            f"FROM (SELECT doc_id, unnest({bg}) AS bigram FROM documents) t\n"
            f"GROUP BY doc_id, bigram"
        )
    return f"""
WITH counts AS ({per_bigram}),
agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(sum(c) - count(*) AS BIGINT) AS n_dup,
         CAST(max(c) AS BIGINT) AS top_c
  FROM counts GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       CAST(n_dup AS DOUBLE) / n_bigrams AS dup_bigram_frac,
       CAST(top_c AS DOUBLE) / n_bigrams AS top_bigram_frac,
       (CAST(n_dup AS DOUBLE) / n_bigrams <= {DUP_BIGRAM_MAX}
        AND CAST(top_c AS DOUBLE) / n_bigrams <= {TOP_BIGRAM_MAX}) AS keep
FROM agg ORDER BY doc_id
"""

def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content md5 + order-sensitive polynomial
    rolling hash over token hashes (mod 2^31-1, left fold)."""
    toks = _toks("spark")
    h = _hash_tok("spark", "t")
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "md5(text) AS content_md5",
        f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> (acc * 31 + {h}) % {_MOD}) AS rolling_hash",
    ).orderBy("doc_id")

def fingerprints_sql() -> str:
    toks = _toks("duckdb")
    h = _hash_tok("duckdb", "t")
    return f"""
SELECT doc_id, md5(text) AS content_md5,
       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform({toks}, t -> {h})),
                   (acc, hv) -> (acc * 31 + hv) % {_MOD}) AS rolling_hash
FROM documents ORDER BY doc_id
"""

# ------------------------------- corpus-level n-grams + decontamination

#: n-gram length for benchmark decontamination (long enough that shared
#: grams imply real text overlap, not chance collision — the published
#: pipelines use 8-13)
DECONTAM_K = 8
#: which ``source`` plays the held-out benchmark set
EVAL_SOURCE = "src0"
#: n-gram length for corpus-level boilerplate detection
TOP_NGRAM_K = 5
TOP_NGRAM_LIMIT = 20

def _kgram_expr(dialect: str, k: int) -> str:
    """Word k-gram ARRAY per document. Spark form references a
    pre-computed ``toks`` column (chained ``zip_with`` over k slices —
    tokenization evaluated once, empty array for short docs); DuckDB
    keeps the index form."""
    if dialect == "spark":
        n = f"size(toks) - {k - 1}"
        expr = f"slice(toks, 1, {n})"
        for i in range(2, k + 1):
            expr = f"zip_with({expr}, slice(toks, {i}, {n}), (a, b) -> concat(a, ' ', b))"
        return f"CASE WHEN size(toks) < {k} THEN array() ELSE {expr} END"
    toks = _toks("duckdb")
    gram = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(k))
    return f"list_transform(generate_series(1, len({toks}) - {k - 1}), i -> {gram})"

def _kgram_rows(dialect: str, k: int, where: str = "") -> str:
    """(doc_id, gram) exploded k-gram rows, optionally filtered."""
    g = _kgram_expr(dialect, k)
    if dialect == "spark":
        inner = f"SELECT doc_id, {_toks('spark')} AS toks FROM documents {where}"
        return f"SELECT doc_id, explode({g}) AS gram FROM ({inner})"
    return f"SELECT doc_id, unnest({g}) AS gram FROM documents {where}"

def top_ngrams_sql(dialect: str = "duckdb") -> str:
    rows = _kgram_rows(dialect, TOP_NGRAM_K)
    return f"""
WITH g AS ({rows})
SELECT gram, CAST(count(*) AS BIGINT) AS occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY gram
ORDER BY occurrences DESC, gram LIMIT {TOP_NGRAM_LIMIT}
"""

def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level most-frequent word 5-grams — the boilerplate /
    template detector (repeated headers, licenses, navigation text).

    Scale shape: explode -> ONE shuffle on the gram key with map-side
    partial counts -> TakeOrderedAndProject for the top-k (no global
    sort). Hot boilerplate grams are exactly what partial aggregation
    absorbs: each partition pre-counts its copies before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(top_ngrams_sql("spark"))

def decontaminate_sql(dialect: str = "duckdb") -> str:
    eval_where = f"WHERE source = '{EVAL_SOURCE}'"
    train_where = f"WHERE source <> '{EVAL_SOURCE}'"
    train_rows = _kgram_rows(dialect, DECONTAM_K, train_where)
    eval_rows = _kgram_rows(dialect, DECONTAM_K, eval_where)
    # per-doc DISTINCT grams on the train side so n_shared counts distinct
    # shared grams; the eval side is globally distinct
    hint = "/*+ BROADCAST(eg) */ " if dialect == "spark" else ""
    return f"""
WITH tg AS (SELECT DISTINCT doc_id, gram FROM ({train_rows})),
eg AS (SELECT DISTINCT gram FROM ({eval_rows})),
hits AS (
  SELECT {hint}tg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM tg JOIN eg ON tg.gram = eg.gram
  GROUP BY tg.doc_id)
SELECT d.doc_id,
       coalesce(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents {train_where}) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
"""

def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document (source !=
    EVAL_SOURCE), the number of distinct 8-grams it shares with the
    held-out eval split, and the resulting drop flag.

    Scale shape: the eval n-gram set is small by construction (a
    benchmark, not the corpus), so the overlap test is a BROADCAST
    hash join against it — the 100 TB training side is never shuffled
    by gram; the only shuffles are the per-doc DISTINCT and the hit
    count, both keyed on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(decontaminate_sql("spark"))

# --------------------------------------------------------------- PII scrub

#: C4/Dolma-style PII redaction classes. Patterns stay in the RE2 ∩ Java
#: regex subset so both dialects compile them identically.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b\d{1,3}(\.\d{1,3}){3}\b"),
    ("PHONE", r"\+\d{1,2} \d{3}-\d{4}"),
)

def _re_lit(dialect: str, pat: str) -> str:
    """Regex as a SQL string literal: Spark single-quoted strings process
    backslash escapes (so ``\\`` must be doubled), DuckDB's are standard
    SQL (left alone)."""
    return "'" + (pat.replace("\\", "\\\\") if dialect == "spark" else pat) + "'"

def pii_scrub_sql(dialect: str = "duckdb") -> str:
    """The synthetic corpus carries no PII, so the query INJECTS a
    deterministic specimen of each class per document before scrubbing —
    both dialects inject identically, so the oracle hash certifies the
    redaction logic itself (found counts, replacement, zero residue),
    not a no-op pass over clean text."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    inject = (
        "text || ' contact user' || CAST(doc_id AS {s}) || '@mail.example.com'"
        " || ' ip 10.' || CAST(doc_id % 256 AS {s}) || '.0.' || CAST(doc_id % 251 AS {s})"
        " || ' call +1 555-' || lpad(CAST(doc_id % 10000 AS {s}), 4, '0')"
    ).format(s=s)
    count = (
        (lambda pat: f"size(regexp_extract_all(injected, {_re_lit('spark', pat)}, 0))")
        if dialect == "spark"
        else (lambda pat: f"len(regexp_extract_all(injected, {_re_lit('duckdb', pat)}))")
    )
    scrub = "injected"
    for name, pat in PII_PATTERNS:
        lit = _re_lit(dialect, pat)
        scrub = (
            f"regexp_replace({scrub}, {lit}, '<{name}>')"
            if dialect == "spark"
            else f"regexp_replace({scrub}, {lit}, '<{name}>', 'g')"
        )
    residual = " + ".join(
        c.replace("injected", "scrubbed") for c in (count(p) for _, p in PII_PATTERNS)
    )
    counts = ",\n       ".join(
        f"CAST({count(pat)} AS BIGINT) AS n_{name.lower()}" for name, pat in PII_PATTERNS
    )
    return f"""
WITH inj AS (SELECT doc_id, {inject} AS injected FROM documents),
scr AS (SELECT doc_id, injected, {scrub} AS scrubbed FROM inj)
SELECT doc_id,
       {counts},
       md5(scrubbed) AS scrub_hash,
       ({residual}) = 0 AS clean
FROM scr ORDER BY doc_id
"""

def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate (emails / IPv4 / phone numbers -> typed
    placeholder tokens) with per-class found-counts and a zero-residue
    proof column.

    Scale shape: pure per-row regexp work fused into the scan — zero
    shuffles except the test-stability ORDER BY; Java regex runs inside
    whole-stage codegen, no Python anywhere. At 100 TB this is mapper
    throughput, the same cost class as the C4 cleaning pass."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(pii_scrub_sql("spark"))

# ------------------------------------------------- duplicated-span fraction

DUPSPAN_K = 8  # word 8-grams, the decontamination granularity

def dup_span_fraction_sql(dialect: str = "duckdb") -> str:
    rows = _kgram_rows(dialect, DUPSPAN_K)
    return f"""
WITH g AS (SELECT DISTINCT doc_id, gram FROM ({rows})),
cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams
  FROM g JOIN cnt c ON g.gram = c.gram
  GROUP BY g.doc_id)
SELECT d.doc_id,
       coalesce(p.n_grams, CAST(0 AS BIGINT)) AS n_grams,
       coalesce(p.n_shared_grams, CAST(0 AS BIGINT)) AS n_shared_grams,
       CASE WHEN p.n_grams > 0
            THEN CAST(p.n_shared_grams AS DOUBLE) / p.n_grams
            ELSE CAST(0 AS DOUBLE) END AS dup_fraction,
       coalesce(CAST(p.n_shared_grams AS DOUBLE) / p.n_grams > 0.5, FALSE) AS mostly_dup
FROM documents d
LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""

def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a doc's
    distinct word 8-grams that appear in at least one OTHER document
    (RefinedWeb/Dolma-style exact-span duplication gate — catches
    templated/boilerplate-heavy pages that whole-doc dedup misses).

    Scale shape: per-doc DISTINCT grams (one shuffle on (doc_id, gram)),
    gram document-frequency (one shuffle on gram, map-side partials
    absorb hot boilerplate grams), fetch-join of counts back onto the
    gram rows (equi on gram, co-partitioned with the count aggregate so
    the exchange is reused), then a doc_id-keyed aggregate. Every stage
    is an equi-shuffle on a bounded-width key — no all-pairs anywhere,
    unlike shingle-Jaccard; this is the exact-span analogue of the
    banded LSH candidate structure."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(dup_span_fraction_sql("spark"))

SEGMENT_WORDS = 10  # C4 dedups ~3-sentence spans; word windows here

def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span REMOVAL (the rewrite, where
    ``dup_span_fraction`` only measures): each document splits into
    consecutive ``SEGMENT_WORDS``-word segments, every duplicated segment
    keeps only its globally-first occurrence (ordered by doc_id, pos),
    and the surviving segments reassemble into the cleaned text.

    Scale shape: two equi-shuffles — one on the segment string for the
    first-occurrence rank (row_number over the segment partition; at
    100 TB hash the segment first to keep exchange rows narrow), one on
    doc_id for reassembly. The reassembly sort is per-document
    (array_sort over that doc's kept segments), never global. Reference
    scope: corpus rewrite ops sit beyond dnstap2clickhouse (README.md:1);
    semantics follow the public C4 paper's span dedup.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    n = SEGMENT_WORDS
    docs = load_table(spark, sf_dir, "documents")
    seglist = (
        f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {n}.0) AS INT) - 1), "
        f"i -> struct(i AS pos, array_join(slice(split(text, ' '), i * {n} + 1, {n}), ' ') AS seg))"
    )
    segs = docs.select("doc_id", F.explode(F.expr(seglist)).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg")
    )
    rn = F.row_number().over(W.partitionBy("seg").orderBy("doc_id", "pos"))
    return (
        segs.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN struct(pos, seg) END)), x -> x.seg)"
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )

def segment_dedup_sql() -> str:
    n = SEGMENT_WORDS
    return f"""
WITH segs AS (
  SELECT doc_id, s['pos'] AS pos, s['seg'] AS seg
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, CAST(ceil(len(string_split(text, ' ')) / {n}.0) AS INT)),
                  i -> {{'pos': i, 'seg': array_to_string(list_slice(string_split(text, ' '), i * {n} + 1, i * {n} + {n}), ' ')}})) AS s
    FROM documents)),
kept AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs)
SELECT doc_id,
       count(*) AS n_segments,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS clean_text
FROM kept GROUP BY doc_id ORDER BY doc_id
"""

SEARCH_TERMS = ("dup", "vector", "spark")  # rare + mid + common
SEARCH_TOP = 10
_IDF_SCALE = 1_000_000

def _kw_score_parts(dialect: str) -> tuple[str, str, str]:
    """(df_cols, weights, score) expression fragments for the integer
    BM25-idf keyword scoring — the SINGLE definition of the weight
    formula, shared by ``keyword_search`` and the hybrid-RRF fusion
    (``similarity.hybrid_rrf``) so the two entries cannot drift."""
    if dialect == "spark":
        toks = "split(text, ' ')"
        tf = lambda t: f"size(filter({toks}, x -> x = '{t}'))"
        div = "div"
    else:
        toks = "string_split(text, ' ')"
        tf = lambda t: f"len(list_filter({toks}, x -> x = '{t}'))"
        div = "//"
    df_cols = ", ".join(
        f"CAST(count(*) FILTER (WHERE {tf(t)} > 0) AS BIGINT) AS df{i}"
        for i, t in enumerate(SEARCH_TERMS)
    )
    weights = ", ".join(
        f"((n - df{i} + 1) * {_IDF_SCALE}) {div} (df{i} + 1) AS w{i}"
        for i in range(len(SEARCH_TERMS))
    )
    score = " + ".join(
        f"CAST({tf(t)} AS BIGINT) * s.w{i}" for i, t in enumerate(SEARCH_TERMS)
    )
    return df_cols, weights, score

def keyword_search_sql(dialect: str = "duckdb") -> str:
    """Keyword relevance search with EXACT integer scoring.

    Classic tf-idf ranking needs log(N/df) — but libm logs are not
    bit-portable across engines, so the weight uses the idf-monotone
    rational ``(N - df + 1) * SCALE div (df + 1)`` (the BM25 idf
    numerator/denominator, log dropped): exact integer division, same
    ranking direction, deterministic everywhere. Score = Σ tf · w(term).

    Scale shape: df/N is ONE tiny aggregate over the corpus
    (decorrelated to a broadcast scalar row); tf scoring is pure mapper
    work fused into the scan; top-k is TakeOrderedAndProject. The
    corpus never shuffles.
    """
    df_cols, weights, score = _kw_score_parts(dialect)
    return f"""
WITH stats AS (SELECT CAST(count(*) AS BIGINT) AS n, {df_cols} FROM documents),
weights AS (SELECT {weights} FROM stats),
scored AS (
  SELECT d.doc_id, {score} AS score
  FROM documents d CROSS JOIN weights s)
SELECT doc_id, score FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {SEARCH_TOP}
"""

def keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``SEARCH_TOP`` documents for the fixed term set."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(keyword_search_sql("spark"))

# --------------------------------------------- unigram-likelihood scoring

UNIGRAM_SCALE = 1_000_000


def unigram_likelihood_sql(dialect: str = "duckdb") -> str:
    """CCNet-style language-model quality signal, made deterministic:
    instead of KenLM perplexity (float log-probs, not bit-portable), the
    score is the per-doc MEAN TOKEN CORPUS FREQUENCY as an exact scaled
    integer — ``SCALE · Σ count(tok) div (n_tokens · N_total)``-shaped
    rational (monotone in the unigram likelihood, log dropped, same
    ranking direction): prose made of common words scores high, junk
    made of rare strings scores low — the head/tail split CCNet uses
    perplexity for.

    Scale shape: token explode → one vocab-keyed count shuffle (the
    unigram "model" — sub-linear in corpus size), a vocab-keyed fetch
    join to score (never corpus×vocab), one doc-keyed sum. The model
    relation is reusable/persistable exactly like a trained LM.
    """
    toks = _toks(dialect)
    flat = "explode" if dialect == "spark" else "unnest"
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH tok AS (SELECT doc_id, {flat}({toks}) AS t FROM documents),
model AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t),
total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
scored AS (
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(m.cnt) AS BIGINT) AS sum_freq
  FROM tok JOIN model m ON tok.t = m.t
  GROUP BY tok.doc_id)
SELECT s.doc_id, s.n_tokens,
       (s.sum_freq * {UNIGRAM_SCALE}) {idiv} (s.n_tokens * t.n) AS mean_freq_e6
FROM scored s CROSS JOIN total t
ORDER BY s.doc_id
"""


def unigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean token corpus frequency (scaled integer) — the
    deterministic stand-in for LM-perplexity quality filtering."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(unigram_likelihood_sql("spark"))


# ------------------------------------------------- code-vs-prose gate

CODE_SYMBOLS = "{}();=<>[]#"
CODE_SYM_E6 = 40_000  # symbol chars per char, e6-scaled keep threshold
CODE_KW_SYM_E6 = 15_000  # lower symbol bar when keywords corroborate
CODE_KEYWORDS = ("def ", "return ", "import ", "function ", "void ", "class ")
CODE_KW_MIN = 2


def code_detect_sql(dialect: str = "duckdb") -> str:
    """Heuristic code-vs-prose classifier — the curation gate that routes
    documents to the code pipeline (or drops code from a prose corpus):
    symbol-character density plus a keyword-corroboration rule, the
    public heuristic family (StarCoder/The-Stack preprocessing uses the
    same signal class). All counts are exact integers (``translate``
    char stripping and LIKE hits — no regex engine differences, no
    floats), so the verdict is bit-identical across engines; the model
    upgrade path (a fasttext-style linear classifier) plugs in as a
    broadcast weight table over the same feature columns.

    Scale shape: pure mapper-side projection — no shuffle at all except
    the final presentation sort.
    """
    kw_hits = " + ".join(
        f"(CASE WHEN text LIKE '%{k}%' THEN 1 ELSE 0 END)" for k in CODE_KEYWORDS
    )
    return f"""
WITH feats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(translate(text, '{CODE_SYMBOLS}', '')) AS BIGINT) AS n_sym,
         CAST({kw_hits} AS BIGINT) AS kw_hits
  FROM documents),
scored AS (
  SELECT doc_id, n_chars, n_sym, kw_hits,
         CASE WHEN n_chars = 0 THEN 0
              ELSE (n_sym * 1000000) {"div" if dialect == "spark" else "//"} n_chars END AS sym_e6
  FROM feats)
SELECT doc_id, n_chars, n_sym, kw_hits, sym_e6,
       CAST(sym_e6 >= {CODE_SYM_E6}
            OR (kw_hits >= {CODE_KW_MIN} AND sym_e6 >= {CODE_KW_SYM_E6}) AS BOOLEAN) AS is_code
FROM scored
ORDER BY doc_id
"""


def code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc code-vs-prose verdict with its exact integer features."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(code_detect_sql("spark"))


# ----------------------------------------------- hashing-trick features

HASHED_DIM = 32  # fixed feature dimension (buckets)


def hashed_features_sql(dialect: str = "duckdb") -> str:
    """Feature hashing (Weinberger et al. 2009, the "hashing trick") —
    the fixed-dimension bag-of-words featurizer large-scale linear
    models and dataset classifiers use: no vocabulary is ever built or
    broadcast (the step that does NOT scale — a 100 TB corpus's vocab is
    unbounded); each token maps straight to ``bucket =
    lehmer(md5_28bit(token)) % D`` and the document's feature vector is
    the per-bucket count, emitted sparse as (doc_id, bucket, n) rows.

    One explode + one (doc_id, bucket) hash aggregate with map-side
    partials — no joins, no vocabulary state, dimension fixed at
    ``HASHED_DIM`` regardless of corpus size. The token hash is the
    shared ``_hash_tok`` md5 arithmetic and the bucket is the shared
    Lehmer mix from functions.splits, so the features are deterministic
    and engine-portable (the DuckDB oracle replays them bit-for-bit).
    Reference scope: beyond dnstap2clickhouse; completes the text
    family's model-input side (stats/quality gates -> training
    features).
    """
    from .splits import _bucket_sql

    toks = _toks(dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    bucket = _bucket_sql(_hash_tok(dialect, "tok"), HASHED_DIM)
    return f"""
WITH toks AS (
  SELECT doc_id, {unnest}({toks}) AS tok FROM documents),
hashed AS (SELECT doc_id, {bucket} AS bucket FROM toks)
SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
FROM hashed GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


def hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse hashed bag-of-words features, ``HASHED_DIM`` buckets."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(hashed_features_sql("spark"))


# ----------------------------------------------------- BPE merge learning

BPE_TOP = 5  # pairs reported per round
#: single-char placeholder for the round-1 merged symbol; the corpus is
#: ASCII words, so '@' cannot collide with an existing symbol
BPE_MARK = "@"


def bpe_merges_sql(dialect: str = "duckdb") -> str:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
    tokenizer-TRAINING primitive of an LLM data pipeline (the existing
    `text_regex_tokens` only applies a tokenizer): count all adjacent
    symbol pairs across the corpus's word instances, merge the most
    frequent pair, recount, merge again. Two rounds are unrolled as
    CTEs (the `sim_kmeans` bounded-iteration discipline); each round is
    one explode + one count with map-side partials — the exact shape a
    full BPE trainer loops at 100 TB (per round: one corpus-sized
    shuffle of pair rows, then a 1-row argmax broadcast back).

    Merging IS left-to-right non-overlapping replacement — precisely
    SQL ``replace`` semantics, so both engines apply the merge
    identically; the round-1 winner is rewritten to the 1-char
    BPE_MARK so round-2 windows stay 2 symbols wide. Output: per
    round, the top-BPE_TOP pairs with exact counts and the winner
    flagged — the hash pins the learned merge order. Ties break
    lexicographically (deterministic vocabulary, engine-independent).
    """
    d = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        words = (
            "SELECT word FROM (SELECT explode(split(text, ' ')) AS word FROM documents) "
            "WHERE length(word) >= 2"
        )
        pairs = (
            "SELECT substring(word, i, 2) AS pair FROM {src} "
            "LATERAL VIEW explode(sequence(1, length(word) - 1)) t AS i"
        )
    else:
        words = (
            "SELECT word FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
            "WHERE length(word) >= 2"
        )
        pairs = (
            "SELECT substring(word, i, 2) AS pair FROM {src}, "
            "LATERAL unnest(generate_series(1, length(word) - 1)) AS t(i)"
        )
    # two merge rounds, unrolled (p1/m1, then p2; each = one corpus pair count)
    return f"""
WITH w1 AS ({words}),
p1 AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM ({pairs.format(src='w1')}) GROUP BY pair),
m1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
w2 AS (SELECT replace(word, (SELECT pair FROM m1), '{BPE_MARK}') AS word FROM w1),
p2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS n
       FROM ({pairs.format(src='(SELECT word FROM w2 WHERE length(word) >= 2) s')})
       GROUP BY pair),
top1 AS (SELECT 1 AS round, pair, n,
                row_number() OVER (ORDER BY n DESC, pair) AS rnk
         FROM p1),
top2 AS (SELECT 2 AS round, pair, n,
                row_number() OVER (ORDER BY n DESC, pair) AS rnk
         FROM p2)
SELECT CAST(round AS BIGINT) AS round, pair, n, CAST(rnk AS BIGINT) AS rank,
       (rnk = 1) AS is_merge
FROM (SELECT * FROM top1 WHERE rnk <= {BPE_TOP}
      UNION ALL SELECT * FROM top2 WHERE rnk <= {BPE_TOP})
ORDER BY round, rank
"""


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (2 unrolled rounds) — see `bpe_merges_sql`."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(bpe_merges_sql("spark"))


# ----------------------------------------------- linear quality classifier

LOGIT_W_BUCKETS = 17  # weight domain: lehmer2(bucket) % 17 - 8 in [-8, 8]
LOGIT_KEEP_E6 = 0  # keep docs with mean token weight >= 0 (logit_e6 scale)


def quality_logit_sql(dialect: str = "duckdb") -> str:
    """Model-based quality filtering, the DCLM/fastText-classifier shape
    (Li et al. 2024's fastText filter; CCNet's linear LM gate): score
    each document with a FIXED linear model over its hashed bag-of-words
    features and keep docs above a logit threshold. The weight table is
    a pure function of the feature bucket (second-round Lehmer mix of
    the `text_hashed_features` bucket, shifted to [-8, 8]) standing in
    for trained coefficients — the documented plug point: a real
    deployment writes its trained weights into the same bucket-keyed
    expression (or a broadcast D-row table), and NOTHING else changes.
    Scoring is token -> bucket -> weight, all mapper-side integer
    arithmetic (no vocabulary, no join — the weight fits in the hash
    expression because the hashing trick fixed the dimension), then one
    per-doc aggregate. The normalized score is the exact rational
    ``score/n_tokens`` at e6 scale, computed with a non-negative
    numerator (shift by +8 per token, subtract 8e6 after) so integer
    division is engine-portable. One explode + one doc-keyed aggregate
    with map-side partials; scales like `text_hashed_features`.
    """
    from .splits import _bucket2_sql, _bucket_sql

    toks = _toks(dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    div = "div" if dialect == "spark" else "//"
    bucket = _bucket_sql(_hash_tok(dialect, "tok"), HASHED_DIM)
    weight = f"({_bucket2_sql(bucket, LOGIT_W_BUCKETS)} - 8)"
    return f"""
WITH toks AS (
  SELECT doc_id, {unnest}({toks}) AS tok FROM documents),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum({weight}) AS BIGINT) AS score
  FROM toks GROUP BY doc_id)
SELECT doc_id, n_tokens, score,
       ((score + 8 * n_tokens) * 1000000) {div} n_tokens - 8000000 AS logit_e6,
       CAST(((score + 8 * n_tokens) * 1000000) {div} n_tokens - 8000000
            >= {LOGIT_KEEP_E6} AS BOOLEAN) AS keep
FROM scored
ORDER BY doc_id
"""


def quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear quality classifier over hashed features."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(quality_logit_sql("spark"))


# ----------------------------------------------- collocation mining

COLLOC_WINDOW = 2  # forward skip-gram offsets 1..2 (word2vec-style)
COLLOC_MIN_SUP = 5  # minimum pair support
COLLOC_TOP = 20  # collocations reported
_COLLOC_E6 = 1_000_000


def collocations_sql(dialect: str = "duckdb") -> str:
    """Collocation mining — the corpus-statistics primitive under
    word2vec/GloVe co-occurrence matrices and phrase detection (Mikolov
    et al. 2013's phrase pass): count directional skip-gram pairs
    (every token with each of its next ``COLLOC_WINDOW`` tokens), then
    rank pairs by LIFT ``P(a,b)/(P(a)P(b))`` — the PMI-monotone
    statistic — as the exact scaled rational ``n_ab * N * e6 div
    (n_a * n_b)`` (log dropped, the `text_keyword_search` no-libm
    discipline). The numerator is accumulated in 128-bit exact
    arithmetic (Spark DECIMAL(38,0), DuckDB HUGEINT): ``n_ab`` scales
    with ``N`` for hot pairs, so a BIGINT product wraps far below any
    interesting corpus (~3e8 tokens, not the e12 an earlier docstring
    claimed — the round-4 advisor's catch); the 128-bit form is exact
    to ~e15 total tokens, and only the QUOTIENT (lift_e6, small by
    construction) must fit BIGINT. Support floor
    ``COLLOC_MIN_SUP`` kills rare-pair noise before ranking.

    Plan: one positional explode, one doc-keyed window (both leads
    share a single sort — the `events_top_paths` idiom), one pair
    count with map-side partials, two vocab-keyed fetch joins for the
    unigram masses (never a broadcast of the vocabulary), top-k via
    TakeOrderedAndProject. Everything shuffles on token keys — scales
    like `text_top_ngrams`.
    """
    if dialect == "spark":
        pos_src = (
            "SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok) FROM documents"
        )
        div = "div"
        wide = "DECIMAL(38, 0)"
    else:
        pos_src = (
            "SELECT doc_id, unnest(string_split(text, ' ')) AS tok, "
            "generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents"
        )
        div = "//"
        wide = "HUGEINT"
    leads = ", ".join(
        f"lead(tok, {k}) OVER w AS b{k}" for k in range(1, COLLOC_WINDOW + 1)
    )
    pair_arms = "\n  UNION ALL\n".join(
        f"  SELECT a, b{k} AS b FROM seq WHERE b{k} IS NOT NULL"
        for k in range(1, COLLOC_WINDOW + 1)
    )
    return f"""
WITH toks AS ({pos_src}),
seq AS (
  SELECT doc_id, tok AS a, {leads}
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
pairs AS (
{pair_arms}),
pc AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
  FROM pairs GROUP BY a, b),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT p.a, p.b, p.n_ab,
       CAST((CAST(p.n_ab AS {wide}) * t.n * {_COLLOC_E6})
            {div} (CAST(ua.n AS {wide}) * ub.n) AS BIGINT) AS lift_e6
FROM pc p
JOIN uni ua ON p.a = ua.tok
JOIN uni ub ON p.b = ub.tok
CROSS JOIN tot t
WHERE p.n_ab >= {COLLOC_MIN_SUP}
ORDER BY lift_e6 DESC, p.a, p.b
LIMIT {COLLOC_TOP}
"""


def collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top skip-gram collocations by exact-integer lift."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(collocations_sql("spark"))


# ----------------------------------------------- keyness (corpus drift)

KEYNESS_SPLIT = 10  # group A: sources with numeric suffix < this; B: rest
KEYNESS_MIN_SUP = 5  # minimum token count in group A
KEYNESS_TOP = 20
_KEYNESS_E3 = 1000


def keyness_sql(dialect: str = "duckdb") -> str:
    """Keyness / corpus-drift detection — which tokens distinguish one
    corpus slice from another (corpus-linguistics keyness analysis;
    the practical "did my crawl distribution shift" and "what
    characterizes domain A vs B" curation probe). Slices are the
    sources split by numeric suffix (a stand-in for crawl snapshots or
    domains). The statistic is the SMOOTHED FREQUENCY RATIO
    ``(k_a * n_b) / ((k_b + 1) * n_a)`` at e3 scale — monotone in
    relative risk, exact BIGINT arithmetic (the chi-square/LLR flavors
    need logs or 128-bit products; the ratio ranks identically for the
    top of the list and stays engine-portable — the
    `text_keyword_search` determinism move). Support floor on the A
    count kills hapax noise. Plan: one explode + one (token,
    group)-keyed count with map-side partials, a 1-row totals
    broadcast, TakeOrderedAndProject top-k — `text_top_ngrams` scaling.
    """
    toks = _toks(dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    div = "div" if dialect == "spark" else "//"
    suffix = (
        "CAST(substring(source, 4) AS INT)" if dialect == "spark"
        else "CAST(substr(source, 4) AS INT)"
    )
    return f"""
WITH toks AS (
  SELECT CASE WHEN {suffix} < {KEYNESS_SPLIT} THEN 'a' ELSE 'b' END AS grp,
         {unnest}({toks}) AS tok
  FROM documents),
counts AS (
  SELECT tok,
         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS k_b
  FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(sum(k_a) AS BIGINT) AS n_a, CAST(sum(k_b) AS BIGINT) AS n_b
  FROM counts)
SELECT c.tok, c.k_a, c.k_b,
       (c.k_a * t.n_b * {_KEYNESS_E3}) {div} ((c.k_b + 1) * t.n_a) AS ratio_e3
FROM counts c CROSS JOIN tot t
WHERE c.k_a >= {KEYNESS_MIN_SUP}
ORDER BY ratio_e3 DESC, c.tok
LIMIT {KEYNESS_TOP}
"""


def keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top group-A-distinctive tokens by smoothed frequency ratio."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(keyness_sql("spark"))


# ----------------------------------------------- BPE merge application

BPE_MARK2 = "#"  # round-2 merged symbol; ASCII corpus, cannot collide


def bpe_apply_sql(dialect: str = "duckdb") -> str:
    """Tokenizer APPLICATION — the other half of `text_bpe_merges`
    (which LEARNS the merge table): apply the two learned merges to
    every word of every document and account the compression, the
    pass a pipeline runs over 100 TB once a tokenizer is frozen.
    The learned winners come from the SAME unrolled CTE chain
    (string surgery on `bpe_merges_sql`'s prefix through ``p2`` —
    the merges applied are literally the audited learned ones, they
    cannot drift), each applied as left-to-right non-overlapping
    ``replace`` (identical semantics in both engines). Per document:
    symbol counts before/after and the exact e6 compression ratio;
    ``monotone_ok`` certifies in-hash that applying merges never
    grows a document. Plan: the learning chain's two corpus pair
    counts + two 1-row winner broadcasts + one mapper-side rewrite
    and doc-keyed aggregate.
    """
    base = bpe_merges_sql(dialect)
    prefix = base[: base.index("top1 AS")].rstrip().rstrip(",")
    toks = _toks(dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    div = "div" if dialect == "spark" else "//"
    return f"""{prefix},
m2 AS (SELECT pair FROM p2 ORDER BY n DESC, pair LIMIT 1),
dw AS (SELECT doc_id, {unnest}({toks}) AS word FROM documents),
applied AS (
  SELECT doc_id, CAST(length(word) AS BIGINT) AS l0,
         CAST(length(replace(replace(word, (SELECT pair FROM m1), '{BPE_MARK}'),
                             (SELECT pair FROM m2), '{BPE_MARK2}')) AS BIGINT) AS l2
  FROM dw)
SELECT doc_id,
       CAST(sum(l0) AS BIGINT) AS n_sym_before,
       CAST(sum(l2) AS BIGINT) AS n_sym_after,
       (CAST(sum(l2) AS BIGINT) * 1000000) {div} CAST(sum(l0) AS BIGINT) AS comp_e6,
       CAST(sum(l2) <= sum(l0) AS BOOLEAN) AS monotone_ok
FROM applied
GROUP BY doc_id
ORDER BY doc_id
"""


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc compression from applying the learned BPE merges."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(bpe_apply_sql("spark"))


# ----------------------------------------------- vocabulary growth curve

VOCAB_QUARTILES = 4


def vocab_growth_sql(dialect: str = "duckdb") -> str:
    """Vocabulary GROWTH curve (Heaps' law) — how fast the distinct-
    token count grows as the corpus accretes, the statistic behind
    "will my tokenizer/vocab saturate" and "is this crawl adding new
    language or repeating itself" (a flattening curve at constant
    token inflow is the repetition signature). Corpus order is the
    deterministic full-range Lehmer hash of doc_id (the ingest-order
    stand-in — id order would bias toward generation order); each
    token's FIRST occurrence position assigns it to a quartile, and
    the curve is new-types + cumulative vocabulary per quartile next
    to the quartile's token inflow (quartiles adding NO new types keep
    a zero row — on this synthetic closed-vocabulary corpus the curve
    saturates in the first quartile, which is exactly the repetition
    signature the instrument exists to show). Plan: one doc-rank pass,
    one explode + token-keyed min aggregate (map-side partials), a
    ≤4-row cumsum window.

    This is the ORACLE/reference form. The Spark entry computes the
    doc rank as a DISTRIBUTED PREFIX SUM (`splits.global_prefix_sum` —
    the reference form's unpartitioned ``row_number()`` moves every
    document id into ONE task), stages the ≤(doc_id, pos, n) rank
    table once via `materialize_scan` (the ``tk`` CTE consumes it
    twice — inlining would re-run the rank pass per reference), and
    splices it in for the ``ordered`` CTE; the rest of the SQL text is
    shared verbatim. Equality is test-pinned.
    """
    from .splits import LEHMER_P
    from ..functions.splits import _bucket2_sql

    toks = _toks(dialect)
    unnest = "explode" if dialect == "spark" else "unnest"
    div = "div" if dialect == "spark" else "//"
    order_key = _bucket2_sql("doc_id", LEHMER_P)
    return f"""
WITH ordered AS (
  SELECT doc_id, row_number() OVER (ORDER BY {order_key}, doc_id) AS pos,
         count(*) OVER () AS n
  FROM documents),
tk AS (
  SELECT o.pos, o.n, {unnest}({toks}) AS tok
  FROM documents d JOIN ordered o ON d.doc_id = o.doc_id),
inflow AS (
  SELECT CAST((pos - 1) * {VOCAB_QUARTILES} {div} n AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS n_token_instances,
         CAST(count(DISTINCT pos) AS BIGINT) AS n_docs
  FROM tk GROUP BY 1),
first_seen AS (
  SELECT tok, CAST(min((pos - 1) * {VOCAB_QUARTILES} {div} n) AS BIGINT) AS q
  FROM tk GROUP BY tok),
news AS (
  SELECT q, CAST(count(*) AS BIGINT) AS n_new_types
  FROM first_seen GROUP BY q)
SELECT i.q AS quartile, i.n_docs, i.n_token_instances,
       CAST(coalesce(nw.n_new_types, 0) AS BIGINT) AS n_new_types,
       CAST(sum(coalesce(nw.n_new_types, 0)) OVER (ORDER BY i.q) AS BIGINT) AS vocab_cum
FROM inflow i LEFT JOIN news nw ON i.q = nw.q
ORDER BY i.q
"""


#: anchor splitting ``vocab_growth_sql`` into the doc-rank CTE and the
#: token-side consumers — must match exactly once or the splice raises.
_VG_TK_ANCHOR = ",\ntk AS ("


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law quartile curve — see `vocab_growth_sql` (distributed
    prefix-sum doc rank, staged once)."""
    from ..sources.tables import materialize_scan
    from .splits import LEHMER_P, _bucket2_sql, global_prefix_sum

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sql = vocab_growth_sql("spark")
    if sql.count(_VG_TK_ANCHOR) != 1 or not sql.startswith("\nWITH ordered AS ("):
        raise RuntimeError("vocab_growth splice anchor drifted")
    docs = spark.sql(
        f"SELECT doc_id, {_bucket2_sql('doc_id', LEHMER_P)} AS __k FROM documents"
    )
    ranked, n = global_prefix_sum(
        spark,
        docs.withColumn("__one", F.lit(1)),
        ("__k", "doc_id"),
        "__one",
        return_total=True,
        name="vg_rank",
    )
    # n comes free from the prefix sum's driver offset pass; the SQL
    # form's count(*) OVER () column becomes a literal (review finding)
    ordered_df = ranked.select(
        "doc_id",
        (F.col("__base") + F.col("__local_end")).alias("pos"),
        F.lit(n).cast("bigint").alias("n"),
    )
    materialize_scan(spark, ordered_df, "vg_ordered").createOrReplaceTempView(
        "__vg_ordered"
    )
    steps = sql.split(_VG_TK_ANCHOR)[1]
    return spark.sql(
        "WITH ordered AS (SELECT doc_id, pos, n FROM __vg_ordered)"
        + _VG_TK_ANCHOR
        + steps
    )


# ------------------------------------------------ blocked fuzzy match

FUZZY_TITLE_CHARS = 32  # "title" = leading slice of the document
FUZZY_BLOCK_CHARS = 8  # blocking-key prefix
FUZZY_MAX_DIST = 5


def fuzzy_match_sql(dialect: str = "duckdb") -> str:
    """Blocked edit-distance record linkage — the fuzzy-matching shape
    every entity-resolution / near-title-dedup pipeline runs: a cheap
    BLOCKING key (here the title's first ``FUZZY_BLOCK_CHARS`` chars)
    turns the quadratic comparison space into per-block equi-join
    candidates, and each candidate is verified with the exact built-in
    ``levenshtein`` distance (standard unit-cost edit distance in both
    engines — the one built-in string-similarity primitive no other
    entry exercised).

    Scale shape: the block key is the shuffle key, so cost is
    O(sum of block-size²) — the known hazards at 100 TB are skewed
    blocks (a very common prefix), mitigated by longer/multiple keys or
    salting, and single-pass recall: edits INSIDE the first
    ``FUZZY_BLOCK_CHARS`` chars move the pair to different blocks
    (production runs multiple blocking passes — e.g. prefix + sorted
    -token keys; `dedup_containment_prefix` covers the df-ordered
    flavor). This entry pins the single-pass mechanics exactly.
    """
    sub = "substring" if dialect == "spark" else "substr"
    return f"""
WITH t AS (
  SELECT doc_id, {sub}(text, 1, {FUZZY_TITLE_CHARS}) AS title
  FROM documents),
b AS (
  SELECT doc_id, title, {sub}(title, 1, {FUZZY_BLOCK_CHARS}) AS blk FROM t),
cand AS (
  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.title AS ta, b2.title AS tb
  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id),
scored AS (
  -- levenshtein is the expensive O(len^2) verify step: compute it ONCE
  -- per candidate and filter on the alias (common-subexpression
  -- elimination of a SELECT+WHERE duplicate is guaranteed in neither
  -- engine — the round-4 advisor's catch)
  SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist
  FROM cand)
SELECT doc_a, doc_b, edit_dist
FROM scored
WHERE edit_dist <= {FUZZY_MAX_DIST}
ORDER BY doc_a, doc_b
"""


def fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-blocked Levenshtein near-title pairs (dist <= 5)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(fuzzy_match_sql("spark"))


# ------------------------------------------------ bigram LM scoring

BIGRAM_SCALE = 1_000_000


def bigram_lm_sql(dialect: str = "duckdb") -> str:
    """Markov-1 extension of `text_unigram_likelihood`: per document,
    the mean CONDITIONAL bigram frequency — for each adjacent pair
    (a, b), ``P(b|a) ~ count(a,b) / count(a,·)`` as an exact scaled
    integer, averaged over the document's bigrams. The fluency signal a
    2-gram LM gives quality filtering (predictable continuations score
    high, word salad scores low), with the same determinism move as the
    unigram entry: the probability RATIO is kept as an integer rational
    per occurrence and the log is dropped (monotone, bit-portable).

    Scale shape: one bigram explode feeding TWO model relations — the
    bigram-keyed count and the left-token-keyed continuation total —
    both sub-linear in corpus size and persistable exactly like a
    trained LM; scoring is two model fetch joins + one doc-keyed sum.
    Documents with fewer than 2 tokens have no bigrams and drop (the
    same rows every bigram entry drops).
    """
    bg = _bigrams(dialect)
    idiv = "div" if dialect == "spark" else "//"
    lt = "split(bigram, ' ')[0]" if dialect == "spark" else "string_split(bigram, ' ')[1]"
    if dialect == "spark":
        rows = (
            f"SELECT doc_id, explode({bg}) AS bigram\n"
            f"      FROM (SELECT doc_id, {_toks('spark')} AS toks FROM documents)"
        )
    else:
        rows = f"SELECT doc_id, unnest({bg}) AS bigram FROM documents t"
    return f"""
WITH bg AS ({rows}),
model2 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY bigram),
model1 AS (
  SELECT lt, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT {lt} AS lt FROM bg) l GROUP BY lt),
occ AS (
  SELECT b.doc_id, (m2.c2 * {BIGRAM_SCALE}) {idiv} m1.c1 AS cond_e6
  FROM bg b
  JOIN model2 m2 ON b.bigram = m2.bigram
  JOIN model1 m1 ON {lt.replace('bigram', 'b.bigram')} = m1.lt)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(cond_e6) {idiv} count(*) AS BIGINT) AS mean_cond_e6
FROM occ GROUP BY doc_id
ORDER BY doc_id
"""


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean conditional bigram frequency (exact e6 rational)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(bigram_lm_sql("spark"))


# ------------------------------------------------ winnowing fingerprints

WINNOW_K = 3  # word k-gram granularity
WINNOW_W = 4  # selection window (guarantee horizon = W + K - 1 words)


def winnow_fingerprints_sql(dialect: str = "duckdb") -> str:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``WINNOW_K``-gram,
    slide a ``WINNOW_W``-window over the hash sequence, and in each
    window select the RIGHTMOST MINIMAL hash. The selected (position,
    hash) set is the document's fingerprint: any shared substring of at
    least W+K-1 words between two documents is GUARANTEED to share a
    selected fingerprint (the paper's coverage theorem), at an expected
    density of 2/(W+1) — the local-selection property no fixed-stride
    sampling has. `text_fingerprints` pins whole-document hashing;
    this is the substring-overlap instrument plagiarism/clone detection
    builds on.

    Determinism: the rightmost-min tie rule is the lexicographic MIN of
    the (hash, -pos) struct — identical in both engines; hashes are the
    shared 28-bit md5 arithmetic. Scale shape: one positioned k-gram
    explode, one doc-partitioned window pass (frame = W following
    rows), one DISTINCT — all keyed on doc_id; selection is local, so
    at 100 TB this is a mapper-shaped pass after the one doc-keyed
    sort, and the fingerprint index it feeds is (hash -> doc) bucketed.
    """
    h = _hash_tok(dialect, "gram")
    if dialect == "spark":
        grams = _kgram_expr("spark", WINNOW_K)
        rows = (
            f"SELECT doc_id, p + 1 AS pos, {h.replace('gram', 'gram')} AS h\n"
            f"  FROM (SELECT doc_id, {_toks('spark')} AS toks FROM documents)\n"
            f"  LATERAL VIEW posexplode({grams}) t AS p, gram"
        )
    else:
        toks = _toks("duckdb")
        grams = _kgram_expr("duckdb", WINNOW_K)
        rows = (
            f"SELECT doc_id, unnest(generate_series(1, len({toks}) - {WINNOW_K - 1})) AS pos,\n"
            f"       unnest(list_transform({grams}, gram -> {h})) AS h\n"
            f"  FROM documents"
        )
    return f"""
WITH hashes AS ({rows}),
win AS (
  SELECT doc_id, pos,
         max(pos) OVER (PARTITION BY doc_id) AS n_grams,
         min({'named_struct' if dialect == 'spark' else ''}{"('h', h, 'np', -pos)" if dialect == 'spark' else "{'h': h, 'np': -pos}"}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS m
  FROM hashes)
SELECT DISTINCT doc_id,
       CAST(-((m).np) AS BIGINT) AS fp_pos,
       CAST((m).h AS BIGINT) AS fp_hash
FROM win
WHERE pos <= n_grams - {WINNOW_W - 1}
ORDER BY doc_id, fp_pos
"""


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (position, hash) fingerprint set per document."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(winnow_fingerprints_sql("spark"))


# ------------------------------------------------ TF-IDF top terms

TFIDF_TOP = 3  # terms kept per document
TFIDF_SCALE = 1_000_000


def tfidf_terms_sql(dialect: str = "duckdb") -> str:
    """Per-document top-``TFIDF_TOP`` terms by TF-IDF — the canonical
    keyword-extraction / document-representation pass (the sparse
    counterpart of the embedding column; BM25-family retrieval and
    topic labeling both start here). IDF is the exact integer rational
    ``N_docs * 1e6 div df`` — the log is dropped (the module's standard
    determinism move: the linear form is monotone in the true IDF, so
    all single-term orderings survive; cross-term scores are the
    documented linear-IDF variant, not Robertson log-IDF).

    Scale shape: one token explode feeding the (doc, term) TF aggregate
    and the term-keyed DF aggregate (vocabulary-sized, sub-linear —
    this is the persistable model relation, exactly like the bigram LM
    tables); scoring is one term-keyed fetch join + a doc-partitioned
    top-k window (rank data = docs x kept-terms). The corpus count is a
    1-row broadcast.
    """
    toks = _toks(dialect)
    idiv = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        rows = f"SELECT doc_id, explode({toks}) AS tok FROM documents"
    else:
        rows = f"SELECT doc_id, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tok_rows AS ({rows}),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok_rows GROUP BY doc_id, tok),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM tok_rows) u GROUP BY tok),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         tf.tf * ((n.n_docs * {TFIDF_SCALE}) {idiv} df.df) AS tfidf_e6
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
ranked AS (
  SELECT doc_id, tok, tf, df, tfidf_e6,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_e6 DESC, tok) AS rk
  FROM scored)
SELECT doc_id, tok AS term, tf, df,
       CAST(tfidf_e6 AS BIGINT) AS tfidf_e6,
       CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= {TFIDF_TOP}
ORDER BY doc_id, rank
"""


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` TF-IDF terms per document (linear-IDF e6)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(tfidf_terms_sql("spark"))


# ------------------------------------------- content-defined chunking

CDC_DIVISOR = 8  # boundary when token hash % divisor == 0 (mean chunk ~8)


def cdc_chunks_sql(dialect: str = "duckdb") -> str:
    """Content-defined chunking (Manber 1994 / LBFS): a chunk boundary
    falls AFTER every token whose hash is ``0 mod CDC_DIVISOR``, so
    boundaries are decided by CONTENT, not position — insert or delete
    a token and only the chunk containing the edit (plus at most its
    successor up to the next anchor) changes; every later chunk keeps
    its identity. That re-synchronization property is what fixed-stride
    segmentation (`text_segment_dedup`) lacks, and it is the primitive
    under dedup storage (rsync/casync), delta compression, and
    edit-robust long-document split points for training pipelines.

    Each chunk emits a position-weighted exact-integer fingerprint
    (``sum(h * (pos - chunk_start + 1))`` — order-sensitive, bounded
    well under 2^63) plus the corpus-wide occurrence count of that
    (fingerprint, length) chunk — the storage-dedup readout.

    Scale shape: positioned token explode (narrow mapper), one
    doc-keyed window pass for the running boundary count, one
    (doc, chunk) aggregate, one fingerprint-keyed count + fetch join —
    all equi-shuffles; the chunk index is the natural bucket key for a
    100 TB chunk store.
    """
    h = _hash_tok(dialect, "tok")
    toks = _toks(dialect)
    if dialect == "spark":
        rows = (
            f"SELECT doc_id, p + 1 AS pos, {h} AS h\n"
            f"  FROM (SELECT doc_id, {toks} AS toks FROM documents)\n"
            f"  LATERAL VIEW posexplode(toks) t AS p, tok"
        )
    else:
        rows = (
            f"SELECT doc_id, unnest(generate_series(1, len({toks}))) AS pos,\n"
            f"       unnest(list_transform({toks}, tok -> {h})) AS h\n"
            f"  FROM documents"
        )
    return f"""
WITH rows_ AS ({rows}),
cids AS (
  SELECT doc_id, pos, h,
         coalesce(sum(CASE WHEN h % {CDC_DIVISOR} = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
  FROM rows_),
anchored AS (
  SELECT doc_id, pos, h, cid,
         min(pos) OVER (PARTITION BY doc_id, cid) AS p0
  FROM cids),
chunks AS (
  SELECT doc_id, cid,
         CAST(min(pos) AS BIGINT) AS start_pos,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(h * (pos - p0 + 1)) AS BIGINT) AS chunk_hash
  FROM anchored GROUP BY doc_id, cid),
occ AS (
  SELECT chunk_hash, n_tokens, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM chunks GROUP BY chunk_hash, n_tokens)
SELECT c.doc_id, CAST(c.cid AS BIGINT) AS chunk_idx,
       c.start_pos, c.n_tokens, c.chunk_hash, o.n_occurrences
FROM chunks c
JOIN occ o ON o.chunk_hash = c.chunk_hash AND o.n_tokens = c.n_tokens
ORDER BY c.doc_id, chunk_idx
"""


def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunks per document + corpus occurrence counts."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(cdc_chunks_sql("spark"))


# ------------------------------------------- classifier eval harness


def langid_eval_sql(dialect: str = "duckdb") -> str:
    """Classifier EVALUATION harness over the lang_id heuristic: join
    predictions to the labeled ``lang`` column and emit the confusion
    matrix with per-cell exact-e6 precision (cell / predicted-class
    total) and recall (cell / true-class total) — the join + marginal
    shape every model eval at 100 TB runs (quality-classifier audits,
    language-ID QA, toxicity-filter calibration). Honest readout on
    THIS corpus: the fixture's ``lang`` labels are random w.r.t. the
    text (documented at `text_lang_id`), so measured precision tracks
    the class priors; the entry certifies the eval MACHINERY — exact
    marginals via window sums over the confusion cells, never a second
    corpus pass.

    Scale shape: one doc-keyed aggregate producing the (truth,
    prediction) pairs collapses the corpus to a <= |langs| x |preds|
    cell table; the marginals are windows over that tiny table.
    """
    pred = (
        f"CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= {LANG_THRESHOLD} "
        f"THEN 'en' ELSE 'unk' END"
    )
    inner = _stats_exprs(dialect)
    sel = ", ".join(e for e in inner if "n_stop" in e or "n_tokens" in e or e == "doc_id")
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH stats AS (
  SELECT {sel}, lang FROM documents),
labeled AS (
  SELECT lang AS true_lang, {pred} AS pred_lang FROM stats),
cells AS (
  SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM labeled GROUP BY true_lang, pred_lang)
SELECT true_lang, pred_lang, n,
       CAST((n * 1000000) {idiv} sum(n) OVER (PARTITION BY pred_lang) AS BIGINT)
         AS precision_e6,
       CAST((n * 1000000) {idiv} sum(n) OVER (PARTITION BY true_lang) AS BIGINT)
         AS recall_e6
FROM cells
ORDER BY true_lang, pred_lang
"""


def langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-cell precision/recall of lang_id."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(langid_eval_sql("spark"))


# ------------------------------------------- tokenizer fertility


def tokenizer_fertility_sql(dialect: str = "duckdb") -> str:
    """Tokenizer FERTILITY by source — tokens-per-word, the standard
    tokenizer-evaluation metric (a tokenizer with fertility 2.1 on one
    domain and 1.2 on another inflates the first domain's compute
    share; multilingual tokenizer papers report exactly this table):
    per source, whitespace words, BPE-style pre-tokens
    (`text_regex_tokens`' denominator pair) and the exact e6
    tokens-per-word ratio, plus the corpus-wide ratio for reference.
    The budgeting input `split_token_budget` allocates by — this
    entry says WHERE the tokens go.

    Scale shape: one narrow per-doc projection (two size() calls),
    one source-keyed aggregate with map-side partials onto the source
    domain; the corpus row is a window over that table.
    """
    toks = _toks(dialect)
    size = "size" if dialect == "spark" else "len"
    idiv = "div" if dialect == "spark" else "//"
    bpe = (
        f"{size}(regexp_extract_all(text, '{BPE_PATTERN}', 0))"
        if dialect == "spark"
        else f"{size}(regexp_extract_all(text, '{BPE_PATTERN}'))"
    )
    return f"""
WITH per AS (
  SELECT source,
         CAST({size}({toks}) AS BIGINT) AS n_words,
         CAST({bpe} AS BIGINT) AS n_bpe
  FROM documents),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_words,
         CAST(sum(n_bpe) AS BIGINT) AS n_bpe
  FROM per GROUP BY source)
SELECT source, n_docs, n_words, n_bpe,
       CAST((n_bpe * 1000000) {idiv} n_words AS BIGINT) AS fertility_e6,
       CAST((sum(n_bpe) OVER () * 1000000) {idiv} sum(n_words) OVER ()
            AS BIGINT) AS corpus_fertility_e6
FROM agg
ORDER BY source
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokens-per-word fertility (exact e6) + corpus ratio."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(tokenizer_fertility_sql("spark"))


# ------------------------------------------- decontamination k-sweep

DECON_SWEEP_KS = (4, 8, 16)


def decontam_sweep_sql(dialect: str = "duckdb") -> str:
    """Gram-size SENSITIVITY SWEEP for benchmark decontamination — the
    tuning curve behind `text_decontaminate`'s K choice (the
    `dedup_band_sweep` instrument applied to the other knob): for each
    k in ``DECON_SWEEP_KS``, how many training docs the k-gram overlap
    gate would drop and how many distinct eval grams exist at that k.
    Small k over-fires (common phrases collide), large k under-fires
    (only long verbatim spans match); the curve shows the cliff and is
    monotone non-increasing in k on any corpus — emitted, so the hash
    certifies the monotonicity along with the counts.

    Scale shape: per k one broadcast gram probe + doc-keyed distinct —
    the sweep is |Ks| passes of the production gate's own plan, never
    a new join class; at 100 TB you run it on a sample, which is the
    documented knob.
    """
    parts = []
    for k in DECON_SWEEP_KS:
        eval_rows = _kgram_rows(dialect, k, f"WHERE source = '{EVAL_SOURCE}'")
        train_rows = _kgram_rows(dialect, k, f"WHERE source <> '{EVAL_SOURCE}'")
        hint = "/*+ BROADCAST(eg) */ " if dialect == "spark" else ""
        parts.append(f"""
SELECT {hint}{k} AS k,
       (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM ({eval_rows}) e)
         AS n_eval_grams,
       CAST(count(DISTINCT tg.doc_id) AS BIGINT) AS n_dropped
FROM (SELECT DISTINCT doc_id, gram FROM ({train_rows}) t) tg
JOIN (SELECT DISTINCT gram FROM ({eval_rows}) e2) eg ON tg.gram = eg.gram""")
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{union}\n) sweep ORDER BY k"


def decontam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dropped-doc and eval-gram counts per candidate gram size."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(decontam_sweep_sql("spark"))


# ------------------------------------------- robust length outliers

MAD_K = 3  # flag when |x - median| > MAD_K * MAD


def length_outliers_sql(dialect: str = "duckdb") -> str:
    """Robust length-outlier gate — median/MAD instead of mean/stddev
    (the mean is exactly what a few monster documents corrupt, so the
    classic z-score gate misses the very rows it should drop; the
    median absolute deviation is the standard robust replacement):
    per document its token count, the corpus LOWER MEDIAN, the MAD,
    and the ``|x - med| > MAD_K * MAD`` flag — all exact integers
    (nearest-rank medians, cross-multiplied compare). On a corpus
    where more than half the lengths coincide MAD is 0 and the gate
    flags every other length — the documented degenerate case, also
    the honest one.

    Scale shape: two exact nearest-rank selections on the (doc, length)
    projection, then a narrow map against two 1-row broadcasts. This is
    the ORACLE/reference form; its unpartitioned ``row_number()``s put
    the whole corpus in one task, so the Spark entry extracts each
    rank-(n+1)/2 element via the distributed prefix-sum rank instead
    (`splits.global_prefix_sum`; identical ranks — (key, doc_id) is a
    total order) plus one bounded 1-row collect per median (the
    documented scalar class). Equality is test-pinned. The mergeable
    approximate flavor at 100 TB remains the sketch-median knob
    `events_value_drift` documents.
    """
    toks = _toks(dialect)
    size = "size" if dialect == "spark" else "len"
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH lens AS (
  SELECT doc_id, CAST({size}({toks}) AS BIGINT) AS n_tokens FROM documents),
ranked AS (
  SELECT n_tokens,
         row_number() OVER (ORDER BY (n_tokens IS NULL), n_tokens, doc_id) AS rk
  FROM lens),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lens),
med AS (
  SELECT r.n_tokens AS med FROM ranked r JOIN n
    ON r.rk = (n.n + 1) {idiv} 2),
devs AS (
  SELECT l.doc_id, abs(l.n_tokens - m.med) AS dev
  FROM lens l CROSS JOIN med m),
dranked AS (
  SELECT dev, row_number() OVER (ORDER BY (dev IS NULL), dev, doc_id) AS rk
  FROM devs),
mad AS (
  SELECT d.dev AS mad FROM dranked d JOIN n ON d.rk = (n.n + 1) {idiv} 2)
SELECT l.doc_id, l.n_tokens,
       CAST(m.med AS BIGINT) AS median_tokens,
       CAST(a.mad AS BIGINT) AS mad_tokens,
       CAST(abs(l.n_tokens - m.med) > {MAD_K} * a.mad AS BOOLEAN) AS is_outlier
FROM lens l CROSS JOIN med m CROSS JOIN mad a
ORDER BY l.doc_id
"""


def _rank_median(spark: SparkSession, df: DataFrame, key: str, name: str = "mad_rank"):
    """(value at nearest-rank (n+1)//2 in (key, doc_id) order, n) via
    the distributed prefix-sum rank — the rank target comes from the
    helper's own driver total (no extra counting pass), plus one 1-row
    bounded collect for the selected element. ``name`` must be distinct
    per call site within one entry (two stagings under one name with
    keep=2 expire a held handle one re-invocation early — r6 ADVICE).
    The rank order leads with the portable ``(key IS NULL)`` boolean so
    Spark's nulls-first window default cannot diverge from the DuckDB
    oracle's nulls-last row_number on a NULL-bearing key (r6 ADVICE)."""
    from .splits import global_prefix_sum

    ranked, n = global_prefix_sum(
        spark,
        df.withColumn("__one", F.lit(1)).withColumn(
            "__knull", F.col(key).isNull()
        ),
        ("__knull", key, "doc_id"),
        "__one",
        return_total=True,
        name=name,
    )
    if n == 0:
        return None, 0
    row = (
        ranked.filter((F.col("__base") + F.col("__local_end")) == (n + 1) // 2)
        .select(key)
        .first()
    )
    return (None if row is None else row[0]), n


def length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust token-length outlier flags per document
    (distributed nearest-rank medians — see `length_outliers_sql` for
    why not unpartitioned windows)."""
    from ..sources.tables import materialize_scan

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    toks = _toks("spark")
    # stage the tokenize-every-document projection ONCE: the two rank
    # passes and the final select would otherwise each re-read and
    # re-tokenize the documents payload column (review finding)
    lens = materialize_scan(
        spark,
        spark.sql(
            f"SELECT doc_id, CAST(size({toks}) AS BIGINT) AS n_tokens FROM documents"
        ),
        "mad_lens",
    )
    med, n = _rank_median(spark, lens, "n_tokens", name="mad_rank_med")
    if n == 0 or med is None:
        # empty corpus, or the nearest-rank row holds a NULL length
        # (majority-NULL text): the reference form degrades to the
        # empty relation / NULL flags — don't build literal SQL from
        # Python None (review finding)
        return spark.sql(length_outliers_sql("spark"))
    devs = lens.select("doc_id", F.expr(f"abs(n_tokens - {med}) AS dev"))
    mad, _ = _rank_median(spark, devs, "dev", name="mad_rank_dev")
    if mad is None:
        return spark.sql(length_outliers_sql("spark"))
    return lens.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST({med} AS BIGINT) AS median_tokens"),
        F.expr(f"CAST({mad} AS BIGINT) AS mad_tokens"),
        F.expr(
            f"CAST(abs(n_tokens - {med}) > {MAD_K} * {mad} AS BOOLEAN) AS is_outlier"
        ),
    ).orderBy("doc_id")
