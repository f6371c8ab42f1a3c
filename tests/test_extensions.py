"""Behavioral tests for the training-data ops beyond oracle parity:
recall of the approximate paths against the exact paths, multimodal
plumbing shape, and invariants."""

from __future__ import annotations

import pytest

from dnstap2clickhouse_spark.functions import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"

def test_lsh_recall_vs_exact_jaccard(spark):
    """Banded MinHash-LSH must recover (almost) all high-Jaccard pairs."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
        if r.jaccard >= 0.8
    }
    cand = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(spark, SF).collect()}
    assert exact, "fixture should contain high-jaccard near-dup pairs"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} for jaccard>=0.8 pairs"

def test_simhash_close_for_near_dups(spark):
    """Near-dup docs should have close SimHash signatures (small hamming)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
        if r.jaccard >= 0.9
    ]
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(spark, SF).collect()}
    assert pairs
    for a, b in pairs:
        ham = bin(sig[a] ^ sig[b]).count("1")
        assert ham <= 15, f"simhash hamming {ham} for near-dup pair ({a},{b})"

def test_lsh_ann_agrees_with_brute_force_top1(spark):
    """Bucketed ANN: when the true top-1 neighbor shares the query's
    bucket, the ANN result must rank it first."""
    exact = {
        r.query_id: r.neighbor_id
        for r in similarity.cosine_topk(spark, SF).collect()
        if r.rank == 1
    }
    approx = {
        r.query_id: r.neighbor_id
        for r in similarity.lsh_bucketed_ann(spark, SF).collect()
        if r.rank == 1
    }
    assert exact
    agree = sum(1 for q, n in exact.items() if approx.get(q) == n)
    # sign-bucket LSH is coarse; require it to find the true top-1 for at
    # least some queries and never return a worse result than bucket-best
    assert agree >= 1

def test_sketch_stats_accuracy(spark):
    """HLL/KLL sketches track the exact forms within tolerance."""
    from dnstap2clickhouse_spark.plans.events_analytics import (
        distinct_users,
        sketch_stats,
        value_quantiles,
    )

    exact_d = {r.event_type: r.n_users for r in distinct_users(spark, SF).collect()}
    exact_q = {r.event_type: (r.p50, r.p95) for r in value_quantiles(spark, SF).collect()}
    for r in sketch_stats(spark, SF).collect():
        assert abs(r.approx_users - exact_d[r.event_type]) <= 0.1 * exact_d[r.event_type]
        p50, p95 = exact_q[r.event_type]
        spread = max(1.0, p95 - p50)
        assert abs(r.approx_p50 - p50) <= 0.2 * spread
        assert abs(r.approx_p95 - p95) <= 0.2 * spread

def test_pandas_cosine_matches_jvm_fold(spark):
    """The Arrow/numpy scorer returns the same neighbors as the JVM
    expression fold; cosines agree to float tolerance."""
    from dnstap2clickhouse_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_pandas,
    )

    jvm = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in cosine_topk(spark, SF).collect()}
    pnd = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in cosine_topk_pandas(spark, SF).collect()}
    assert jvm.keys() == pnd.keys()
    for k, (nid, cos) in jvm.items():
        pnid, pcos = pnd[k]
        assert pnid == nid and abs(pcos - cos) < 1e-9

def test_media_features_shape_and_determinism(spark):
    df = multimodal.media_features(spark, SF)
    rows = df.collect()
    assert df.columns[:3] == ["doc_id", "media_kind", "n_bytes"]
    assert len(df.columns) == 3 + multimodal.FEATURE_DIM
    assert all(r.n_bytes == 32 for r in rows)
    assert all(0.0 <= r[f"f{i}"] < 1.0 for r in rows[:20] for i in range(multimodal.FEATURE_DIM))
    rows2 = multimodal.media_features(spark, SF).collect()
    assert rows == rows2

def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")

def test_fake_features_pure_function():
    assert multimodal.fake_features(b"abc") == multimodal.fake_features(b"abc")
    assert multimodal.fake_features(b"") == [0.0] * multimodal.FEATURE_DIM

def test_exact_dedup_partition_invariant(spark):
    """Every document lands in exactly one dedup group."""
    groups = dedup.exact_dedup(spark, SF).collect()
    ndocs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(g.n_members for g in groups) == ndocs


def test_repetition_filter_extremes(spark, tmp_path):
    """Crafted docs pin the repetition gates: all-identical tokens ->
    maximal dup/top fractions, rejected; all-unique tokens -> zero
    fractions, kept; an exact repeated phrase sits between."""
    from dnstap2clickhouse_spark.functions.text import repetition_filter

    docs = [
        (0, " ".join(["spam"] * 40)),                       # one bigram, 39 copies
        (1, " ".join(f"w{i}" for i in range(40))),          # all bigrams distinct
        (2, " ".join(["alpha beta gamma"] * 12)),           # repeated phrase
    ]
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in repetition_filter(spark, str(tmp_path)).collect()}

    assert out[0].n_bigrams == 39
    assert out[0].dup_bigram_frac == (39 - 1) / 39
    assert out[0].top_bigram_frac == 1.0
    assert not out[0].keep

    assert out[1].dup_bigram_frac == 0.0
    assert out[1].keep

    # 12 copies of a 3-token phrase: 35 bigrams, 3 distinct
    assert out[2].n_bigrams == 35
    assert out[2].dup_bigram_frac == (35 - 3) / 35
    assert not out[2].keep


def test_ann_recall_bounds_and_brute_force_identity(spark):
    """recall@k is in [0,1]; the brute-force result joined against itself
    would be 1.0 by construction — pin that the LSH recall never exceeds
    the exact top-k overlap definition."""
    from dnstap2clickhouse_spark.functions.similarity import TOP_K, ann_recall

    rows = ann_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_hits == round(r.recall_at_k * TOP_K)

# ---------------------------------------- dedup pipeline completion (r3)

def test_lsh_verified_subset_of_exact_pairs(spark):
    """Verified candidates carry true Jaccard scores: every verified pair
    must appear in the exact all-pairs ground truth with the same score."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
    }
    verified = dedup.lsh_verified_pairs(spark, SF).collect()
    assert verified, "fixture should contain verified near-dup pairs"
    for r in verified:
        assert (r.doc_a, r.doc_b) in exact
        assert abs(exact[(r.doc_a, r.doc_b)] - r.jaccard) < 1e-12
        assert r.jaccard >= dedup.JACCARD_THRESHOLD

def test_cc_clusters_consistent_with_pairs(spark):
    """Both endpoints of every verified pair share a cluster, and each
    cluster_id is the min doc_id of its members."""
    labels = {r.doc_id: r.cluster_id for r in dedup.cc_clusters(spark, SF).collect()}
    pairs = dedup.lsh_verified_pairs(spark, SF).collect()
    assert pairs
    for r in pairs:
        assert labels[r.doc_a] == labels[r.doc_b]
    by_cluster: dict[int, list[int]] = {}
    for doc, c in labels.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)

def test_propagate_min_labels_chain_needs_iterations(spark):
    """A 5-node chain (diameter 4) forces multi-round propagation; the
    fixpoint must still label every node with the chain minimum."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50), (7, 8)], ["doc_a", "doc_b"]
    )
    labels = spark.createDataFrame(
        [(i,) for i in (10, 20, 30, 40, 50, 7, 8, 99)], ["doc_id"]
    ).selectExpr("doc_id", "doc_id AS cluster_id")
    out = {r.doc_id: r.cluster_id for r in dedup.propagate_min_labels(labels, pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10, 50: 10, 7: 7, 8: 7, 99: 99}

def test_canonical_corpus_accounts_for_every_doc(spark):
    """Cluster sizes over the canonical corpus sum to the corpus size,
    and the kept doc ids are exactly the cluster ids."""
    docs_n = dedup.cc_clusters(spark, SF).count()
    rows = dedup.canonical_corpus(spark, SF).collect()
    assert sum(r.n_members for r in rows) == docs_n
    assert all(r.n_dups_removed == r.n_members - 1 for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows)

# ------------------------------- n-gram corpus stats + decontamination

def test_decontaminate_matches_python_ground_truth(spark):
    """n_shared equals a pure-Python 8-gram set intersection per doc."""
    from dnstap2clickhouse_spark.functions import text as ft
    from dnstap2clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    k = ft.DECONTAM_K

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    eval_grams = set()
    for r in docs:
        if r.source == ft.EVAL_SOURCE:
            eval_grams |= grams(r.text)
    expect = {
        r.doc_id: len(grams(r.text) & eval_grams)
        for r in docs
        if r.source != ft.EVAL_SOURCE
    }
    got = {r.doc_id: r.n_shared for r in ft.decontaminate(spark, SF).collect()}
    assert got == expect
    assert any(v > 0 for v in got.values()), "fixture should contain contamination"

def test_decontaminate_broadcasts_eval_side(spark):
    """The eval n-gram set must join as a broadcast — the training corpus
    is never shuffled by gram."""
    from dnstap2clickhouse_spark.functions import text as ft

    plan = ft.decontaminate(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

def test_top_ngrams_counts_are_exact(spark):
    """Top-k 5-gram occurrence counts equal a pure-Python count."""
    from collections import Counter
    from dnstap2clickhouse_spark.functions import text as ft
    from dnstap2clickhouse_spark.sources.tables import load_table

    k = ft.TOP_NGRAM_K
    c: Counter = Counter()
    docs_per: dict[str, set] = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        w = r.text.split(" ")
        for i in range(len(w) - k + 1):
            g = " ".join(w[i : i + k])
            c[g] += 1
            docs_per.setdefault(g, set()).add(r.doc_id)
    rows = ft.top_ngrams(spark, SF).collect()
    assert len(rows) == ft.TOP_NGRAM_LIMIT
    best = max(c.values())
    assert rows[0].occurrences == best
    for r in rows:
        assert c[r.gram] == r.occurrences
        assert len(docs_per[r.gram]) == r.n_docs

# --------------------------- quantization + quality-weighted resampling

def test_quantize_int8_codes_in_range_and_invertible(spark):
    """Codes fit SIGNED int8 ([-128, 127]); dequantized values
    reconstruct each input to within half a step of its dimension's
    range."""
    from collections import defaultdict
    from dnstap2clickhouse_spark.functions import similarity as fs
    from dnstap2clickhouse_spark.sources.tables import load_table

    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    codes = fs.quantize_int8(spark, SF).collect()
    assert len(codes) == len(emb) * len(next(iter(emb.values())))
    mn: dict = defaultdict(lambda: float("inf"))
    mx: dict = defaultdict(lambda: float("-inf"))
    for v in emb.values():
        for d, x in enumerate(v, start=1):
            mn[d] = min(mn[d], x)
            mx[d] = max(mx[d], x)
    for r in codes:
        assert -128 <= r.code <= 127
        step = (mx[r.dim] - mn[r.dim]) / fs.QUANT_LEVELS
        recon = mn[r.dim] + (r.code + 128) * step
        assert abs(recon - emb[r.vec_id][r.dim - 1]) <= step / 2 + 1e-9

def test_quality_resample_is_nested_and_quality_biased(spark):
    """Survivors at a lower SCALE are a subset of survivors at a higher
    SCALE (nested samples), and the kept set's mean quality is >= the
    corpus mean (the whole point of quality weighting)."""
    from dnstap2clickhouse_spark.functions import splits as fp
    from dnstap2clickhouse_spark.functions import text as ft

    kept = {r.doc_id: r.quality for r in fp.quality_resample(spark, SF).collect()}
    all_q = {r.doc_id: r.quality for r in ft.quality_scores(spark, SF).collect()}
    assert kept and len(kept) < len(all_q)
    assert sum(kept.values()) / len(kept) > sum(all_q.values()) / len(all_q)
    # nested: recompute survivors at half the scale in python
    half = {
        d
        for d in kept
        if ((d % fp.LEHMER_P) * fp.LEHMER_A % fp.LEHMER_P) * fp.LEHMER_A
        % fp.LEHMER_P
        % fp.RESAMPLE_BUCKETS
        < all_q[d] * (fp.RESAMPLE_SCALE / 2) * fp.RESAMPLE_BUCKETS
    }
    assert half <= set(kept)

# ------------------------------ CC fixpoint vs pure-Python union-find

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    _edge_lists = st_h.lists(
        st_h.tuples(
            st_h.integers(min_value=0, max_value=24),
            st_h.integers(min_value=0, max_value=24),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=30,
    )

    @given(_edge_lists)
    @settings(max_examples=8, deadline=None)
    def test_propagate_min_labels_equals_union_find(edges):
        """The Spark fixpoint equals a pure-Python union-find on random
        graphs (few hypothesis examples — each one runs Spark jobs)."""
        # hypothesis can't inject fixtures: grab the shared session
        from dnstap2clickhouse_spark.session import get_spark

        spark = get_spark("test")
        parent = list(range(25))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {v: find(v) for v in range(25)}
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], ["doc_a", "doc_b"]
        )
        labels = spark.createDataFrame(
            [(v,) for v in range(25)], ["doc_id"]
        ).selectExpr("doc_id", "doc_id AS cluster_id")
        got = {
            r.doc_id: r.cluster_id
            for r in dedup.propagate_min_labels(labels, pairs).collect()
        }
        assert got == expect

except ImportError:  # pragma: no cover
    pass

def test_kgrams_and_decontaminate_handle_short_docs(spark):
    """Docs shorter than DECONTAM_K tokens have no 8-grams: never
    contaminated, never crash — in BOTH dialects."""
    import duckdb
    import pandas as pd
    from dnstap2clickhouse_spark.functions import text as ft

    rows = [
        (1, "one", "en", "src0", 3),          # eval, 1 token
        (2, "a b", "en", "src1", 3),          # train, 2 tokens
        (3, "a b c d e f g h", "en", "src1", 15),  # exactly 8 tokens
        (4, "", "en", "src2", 0),             # empty text
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spark.createDataFrame(rows, cols).createOrReplaceTempView("documents")
    try:
        got = {r.doc_id: (r.n_shared, r.contaminated)
               for r in spark.sql(ft.decontaminate_sql("spark")).collect()}
        assert got == {2: (0, False), 3: (0, False), 4: (0, False)}
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=cols))
        oracle = {
            int(r.doc_id): (int(r.n_shared), bool(r.contaminated))
            for _, r in con.execute(ft.decontaminate_sql("duckdb")).df().iterrows()
        }
        assert oracle == got
    finally:
        # the fixture view is session-wide: restore the real table so
        # later tests in the shared session don't silently run on toy data
        from dnstap2clickhouse_spark.sources.tables import load_table

        load_table(spark, SF, "documents").createOrReplaceTempView("documents")
