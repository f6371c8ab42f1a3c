"""Round-4 batch-6 operators: Bloom-filter ingest pre-screen and
SemDeDup (cluster-quarantined cosine dedup). The oracle gate proves
value-exactness vs DuckDB; these tests pin what the operators MEAN —
the no-false-negative guarantee against an injected true duplicate, a
full Python reimplementation of the filter, and the theorem tying the
SemDeDup verdict to the audited k-means assignment + all-pairs cosine
ground truth.
"""

from __future__ import annotations

import hashlib

from dnstap2clickhouse_spark.functions import dedup as fdedup
from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _bag_key(text: str) -> str:
    return hashlib.md5(" ".join(sorted(text.split(" "))).encode()).hexdigest()


def _positions(key: str) -> list[int]:
    return [
        int(hashlib.md5((str(j) + key).encode()).hexdigest()[:7], 16) % fdedup.BLOOM_M
        for j in range(1, fdedup.BLOOM_K + 1)
    ]


def test_bloom_no_false_negatives_on_injected_dup(spark):
    """A new-batch doc that IS a duplicate (byte-identical text, or a
    word-order shuffle — the bag key catches both) must come back
    bloom_maybe: the filter admits false positives, never false
    negatives."""
    rows = [
        (0, "alpha beta gamma delta", "en", "src0", 22),
        (1, "the quick brown fox jumps", "en", "src0", 25),
        (2, "lorem ipsum dolor sit amet", "en", "src1", 26),
        # new batch ('srcz' sorts last => is_new): one exact copy, one
        # word-order shuffle, one genuinely new doc
        (10, "the quick brown fox jumps", "en", "srcz", 25),
        (11, "delta gamma beta alpha", "en", "srcz", 22),
        (12, "entirely novel content here", "en", "srcz", 27),
    ]
    orig = load_table(spark, SF, "documents")
    try:
        spark.createDataFrame(
            rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        ).createOrReplaceTempView("documents")
        got = {r.doc_id: r for r in spark.sql(fdedup.bloom_prescreen_sql("spark")).collect()}
    finally:
        orig.createOrReplaceTempView("documents")
    assert set(got) == {10, 11, 12}
    assert got[10].is_dup and got[10].bloom_maybe
    assert got[11].is_dup and got[11].bloom_maybe
    assert not got[12].is_dup


def test_bloom_matches_python_reimplementation(spark):
    """Flag-exact agreement with an independent Python Bloom filter
    (same md5 idiom) over the real smoke corpus — certifying the hash
    family, the modulus, and the is_new split, not just self-identity."""
    docs = load_table(spark, SF, "documents").collect()
    new_src = max(r.source for r in docs)
    occupied: set[int] = set()
    corpus_keys: set[str] = set()
    for r in docs:
        if r.source != new_src:
            key = _bag_key(r.text)
            corpus_keys.add(key)
            occupied.update(_positions(key))
    expect = {}
    for r in docs:
        if r.source == new_src:
            key = _bag_key(r.text)
            expect[r.doc_id] = (
                all(p in occupied for p in _positions(key)),
                key in corpus_keys,
            )
    got = {
        r.doc_id: (r.bloom_maybe, r.is_dup)
        for r in fdedup.bloom_prescreen(spark, SF).collect()
    }
    assert got == expect and got
    # no false negatives, structurally
    assert all(maybe or not dup for maybe, dup in got.values())


def test_semantic_dedup_equals_cluster_restricted_cosine(spark):
    """The SemDeDup verdict is EXACTLY the all-pairs cosine-dup relation
    (dedup_embedding_cosine, same threshold) restricted to same-cluster
    pairs under the audited k-means assignment: a vector is dropped iff
    a lower-id cosine-dup partner shares its cluster, and dup_of is the
    smallest such partner."""
    cluster = {r.vec_id: r.cluster for r in fsim.kmeans_assign(spark, SF).collect()}
    pairs = [
        (r.vec_a, r.vec_b)
        for r in fsim.embedding_cosine_dups(spark, SF).collect()
        if cluster[r.vec_a] == cluster[r.vec_b]
    ]
    dup_of: dict[int, int] = {}
    for a, b in pairs:
        dup_of[b] = min(a, dup_of.get(b, a))
    got = fsim.semantic_dedup(spark, SF).collect()
    assert len(got) == len(cluster)
    for r in got:
        assert r.cluster == cluster[r.vec_id]
        if r.vec_id in dup_of:
            assert not r.kept and r.dup_of == dup_of[r.vec_id]
        else:
            assert r.kept and r.dup_of == -1
    assert any(not r.kept for r in got) or not pairs


def test_hybrid_rrf_consistent_with_component_retrievers(spark):
    """The fused list's vec-side ranks agree with the standalone
    sim_cosine_topk ordering for the same query vector, the kw-side
    ranks agree with text_keyword_search, and every rrf_score equals
    the integer 1/(K+r) recomputation from the two rank columns."""
    from dnstap2clickhouse_spark.functions import text as ftext

    got = fsim.hybrid_rrf(spark, SF).collect()
    assert got
    for r in got:
        expect = 0
        if r.kw_rank > 0:
            expect += fsim.RRF_SCALE // (fsim.RRF_K + r.kw_rank)
        if r.vec_rank > 0:
            expect += fsim.RRF_SCALE // (fsim.RRF_K + r.vec_rank)
        assert r.rrf_score == expect > 0
        assert r.kw_rank > 0 or r.vec_rank > 0
    # vec-side ranks == brute-force cosine ordering for query 0
    topk = {
        r.rank: r.neighbor_id
        for r in fsim.cosine_topk(spark, SF).collect()
        if r.query_id == fsim.HYBRID_QUERY_VEC
    }
    vec_ranks = {r.vec_rank: r.doc_id for r in got if 0 < r.vec_rank <= fsim.TOP_K}
    for rank, vid in vec_ranks.items():
        assert topk[rank] == vid
    # kw-side ranks == standalone keyword search ordering
    kw = {i + 1: r.doc_id for i, r in enumerate(ftext.keyword_search(spark, SF).collect())}
    for r in got:
        if 0 < r.kw_rank <= len(kw):
            assert kw[r.kw_rank] == r.doc_id


def test_embedding_lsh_dups_precision_and_recall_consistency(spark):
    """LSH-bucketed pairs are a SUBSET of the exact all-pairs cosine-dup
    relation (precision 1.0, same threshold/fold), every found pair
    shares at least one sign-LSH bucket, and the one-row recall entry
    reports exactly |found| / |exact| with n_false_pos == 0."""
    exact = {(r.vec_a, r.vec_b) for r in fsim.embedding_cosine_dups(spark, SF).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in fsim.embedding_lsh_dups(spark, SF).collect()}
    assert lsh <= exact
    emb = {r.vec_id: r.embedding for r in load_table(spark, SF, "embeddings").collect()}

    def buckets(v):
        return fsim.lsh_buckets(emb[v], len(emb))

    for a, b in lsh:
        assert any(x == y for x, y in zip(buckets(a), buckets(b)))
    row = fsim.embedding_lsh_dup_recall(spark, SF).collect()[0]
    assert row.n_found == len(lsh)
    assert row.n_true == len(exact)
    assert row.n_false_pos == 0
    assert row.pair_recall == len(lsh) / len(exact)


def test_curate_v3_is_v2_minus_semantic_drops(spark):
    """The two-modality capstone: v3's survivor set is EXACTLY v2's
    minus the docs whose embedding the SemDeDup verdict drops — the
    splice adds the one gate and changes nothing else (columns and
    per-doc values identical for survivors)."""
    from dnstap2clickhouse_spark.plans import curation as pcur

    v2 = {r.doc_id: tuple(r) for r in pcur.curate_corpus_v2(spark, SF).collect()}
    v3 = {r.doc_id: tuple(r) for r in pcur.curate_corpus_v3(spark, SF).collect()}
    sem_dropped = {
        r.vec_id for r in fsim.semantic_dedup(spark, SF).collect() if not r.kept
    }
    assert set(v3) == set(v2) - sem_dropped
    for d, row in v3.items():
        assert row == v2[d]


def test_online_dedup_chain_semantics(spark):
    """Online dedup with a live index: B (dup of admitted A) is
    rejected; C — near-dup of B ONLY — is then ADMITTED, because
    rejected docs never enter the index. Sliding-window texts give
    jaccard(A,B) ≈ 0.71 ≥ 0.5, jaccard(B,C) = 0.5 ≥ 0.5,
    jaccard(A,C) ≈ 0.33 < 0.5; ids 0-3 land one per micro-batch."""
    toks = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambdaw".split()
    text = lambda lo, hi: " ".join(toks[lo:hi])
    rows = [
        (0, text(0, 8), "en", "s", 1),  # A — chunk 0, admitted
        (1, text(1, 9), "en", "s", 1),  # B — dup of A, rejected
        (2, text(3, 11), "en", "s", 1),  # C — near B only, ADMITTED
        (3, "utterly unrelated content entirely", "en", "s", 1),  # D
    ]
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    fix = spark.createDataFrame(rows, schema)
    import shutil
    import tempfile

    orig = load_table(spark, SF, "documents")
    fake_sf = tempfile.mkdtemp(prefix="online_fix_sf_")
    try:
        fix.write.mode("overwrite").parquet(fake_sf + "/documents.parquet")
        got = {
            r.doc_id: (r.admitted, r.dup_of)
            for r in fdedup.streaming_online_dedup(spark, fake_sf).collect()
        }
    finally:
        orig.createOrReplaceTempView("documents")
        shutil.rmtree(fake_sf, ignore_errors=True)
    assert got == {0: (True, -1), 1: (False, 0), 2: (True, -1), 3: (True, -1)}
    # oracle replays the same chain on the fixture
    import duckdb

    con = duckdb.connect()
    con.register("documents", fix.toPandas())
    ora = {
        int(r.doc_id): (bool(r.admitted), int(r.dup_of))
        for _, r in con.sql(fdedup.streaming_online_dedup_sql()).df().iterrows()
    }
    assert ora == got


def test_unigram_likelihood_matches_python_model(spark):
    """The scaled-integer mean-frequency score equals an independent
    Python recomputation of the unigram model (counts, totals, exact
    integer division) — certifying the model join, not just engine
    parity; and common-word docs outrank rare-word docs by design."""
    from collections import Counter

    from dnstap2clickhouse_spark.functions import text as ftext

    docs = {r.doc_id: r.text.split(" ") for r in load_table(spark, SF, "documents").collect()}
    model = Counter(t for toks in docs.values() for t in toks)
    total = sum(model.values())
    got = {r.doc_id: (r.n_tokens, r.mean_freq_e6) for r in ftext.unigram_likelihood(spark, SF).collect()}
    assert set(got) == set(docs)
    for d, toks in docs.items():
        expect = (sum(model[t] for t in toks) * ftext.UNIGRAM_SCALE) // (len(toks) * total)
        assert got[d] == (len(toks), expect)
