"""Tooling around the engine: one DuckDB oracle per ``queries()`` entry,
``tools/check_correctness.py --sampled``, the sampled ground-truth
entries and their ``tools/audit_plans.py`` hazard check,
``tools/compare_bench.py``, the ``bench.py`` flagship block, and the
``tools/make_bench_corpus.py`` seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "tools"))

import __spark_entry__ as entrymod
from dnstap2clickhouse_spark.functions import dedup as dd
from dnstap2clickhouse_spark.functions import ground_truth as gt
from dnstap2clickhouse_spark.functions import similarity as fsim

SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


# --------------------------------------------------- queries() oracles

def test_every_query_has_an_oracle():
    oracles = entrymod.oracle_sql()
    assert list(entrymod.queries()) == list(oracles)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


# ------------- check_correctness --sampled (replica-gate composition)

def test_sampled_recall_sql_composes_both_dialects():
    import check_correctness as cc

    for dialect in ("spark", "duckdb"):
        sql = cc.sampled_minhash_recall_sql(dialect)
        assert sql.count(cc.SAMPLE_PRED) == 2  # both pair CTEs sampled
        assert "exact_pairs" in sql and "lsh_pairs" in sql


def test_sampled_recall_value_exact_at_sf001(spark):
    """Both engines agree on the SAMPLED recall statistic at sf0.01 —
    pins the substring-substitution machinery end-to-end before the sf1
    replica gate relies on it."""
    import duckdb

    import check_correctness as cc
    from tests.oracle_harness import assert_match, run_oracle

    sdf = cc.SAMPLED_VARIANT["dedup_minhash_recall"][0](spark, SF_ORACLE)
    assert_match(
        sdf,
        run_oracle(cc.sampled_minhash_recall_sql("duckdb"), SF_ORACLE),
        "sampled_minhash_recall",
    )


def test_sampled_output_pred_agrees_both_engines(spark):
    """The simhash_pairs output sample: identical predicate, identical
    surviving rows in both engines at sf0.01."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    import check_correctness as cc
    from tests.oracle_harness import assert_match, run_oracle

    sdf = e.queries()["dedup_simhash_pairs"](spark, SF_ORACLE).where(
        F.expr(cc.SAMPLE_PRED)
    )
    osql = f"SELECT * FROM ({e.oracle_sql()['dedup_simhash_pairs']}\n) __samp WHERE {cc.SAMPLE_PRED}"
    assert_match(sdf, run_oracle(osql, SF_ORACLE), "sampled_simhash_pairs")


# ------------ sampled ground-truth entries + audit_plans hazard check

def test_residue_join_key_equals_knuth_pred():
    """The equi-join residue decomposition is EXACTLY the gate predicate
    for non-negative ids: (a*K + b) % M == 0  <=>  key_a(a) == key_b(b)."""
    m, km = gt.GT_SAMPLE_MOD, gt.GT_KM
    assert km == gt.GT_KNUTH % m
    for a in list(range(0, 300)) + [10**6, 10**7 + 3, 2**24 - 1]:
        for b in list(range(0, 50)) + [10**6 + 1, 2**24 - 2]:
            pred = (a * gt.GT_KNUTH + b) % m == 0
            keys = (m - (a * km) % m) % m == b % m
            assert pred == keys, (a, b)


@pytest.mark.parametrize(
    "sampled_sql, full_sql, pair_cols",
    [
        (gt.sampled_ngram_jaccard_pairs_sql, dd.ngram_jaccard_pairs_sql, ("doc_a", "doc_b")),
        (gt.sampled_embedding_cosine_dups_sql, fsim.embedding_cosine_dups_sql, ("vec_a", "vec_b")),
    ],
)
def test_sampled_equals_full_filtered_by_pred(sampled_sql, full_sql, pair_cols):
    """Sampling commutes with the verified statistic: the sampled
    relation equals the FULL ground truth filtered by the pair predicate,
    row for row (scores computed on kept pairs are exact)."""
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    a, b = pair_cols
    s = con.execute(sampled_sql()).df()
    f = con.execute(
        f"SELECT * FROM ({full_sql()}) WHERE {gt.gt_sample_pred(a, b)} ORDER BY {a}, {b}"
    ).df()
    assert len(s) > 0, "sf0.01 sample must stay value-bearing (mod choice)"
    assert s.reset_index(drop=True).equals(f.reset_index(drop=True))


def test_sampled_gt_value_exact_vs_oracle(spark):
    """All three re-pointed contract entries hash-match the DuckDB oracle
    at sf0.01 through the driver-strict harness."""
    from tests.oracle_harness import assert_match, run_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in (
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "dedup_embedding_lsh_recall",
    ):
        assert_match(qs[name](spark, SF_ORACLE), run_oracle(oracles[name], SF_ORACLE), name)


def test_sampled_recall_denominator_matches_sampled_exact(spark):
    """The recall entry's n_true equals the sampled exact relation's row
    count — numerator and denominator restricted to the SAME population."""
    row = gt.sampled_embedding_lsh_recall(spark, SF_ORACLE).collect()[0]
    n_exact = gt.sampled_embedding_cosine_dups(spark, SF_ORACLE).count()
    assert row.n_true == n_exact
    assert row.n_false_pos == 0  # precision certificate survives sampling
    assert 0.0 <= row.pair_recall <= 1.0


def test_sampled_gt_plans_are_hazard_free(spark):
    """Under the 100 TB audit regime (auto-broadcast disabled) the three
    sampled verifier plans carry NO nested-loop / broadcast-of-fact /
    global-window / row-UDF hazard — the r8 waivers are structurally
    retired (residue equi-joins), and audit_plans.WAIVED is empty."""
    import audit_plans as ap

    assert ap.WAIVED == {}
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        qs = entrymod.queries()
        for name in (
            "dedup_ngram_jaccard",
            "dedup_embedding_cosine",
            "dedup_embedding_lsh_recall",
        ):
            df = qs[name](spark, SF_ORACLE)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ap.audit_plan(plan) == [], name
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_substitution_guards_trip_on_drift(monkeypatch):
    """The assertion-guarded composition fails loudly when the production
    SQL drifts instead of silently diverging."""
    monkeypatch.setattr(dd, "ngram_jaccard_pairs_sql", lambda dialect, *a, **k: "SELECT 1")
    with pytest.raises(AssertionError, match="drifted"):
        gt.sampled_ngram_jaccard_pairs_sql("duckdb")


# ------------------------------------------------------ compare_bench

def test_compare_bench_normalization_and_breach(tmp_path):
    """tools/compare_bench.py: corpus guard, calibration normalization
    (t_norm = t_raw * calib_ref / calib_new), and the 2x breach exit."""
    import json
    import subprocess

    ref = {"corpus_id": "c1", "queries": {"q": 1.0}, "host": {"calib_sec": 1.0}}
    # raw 2.4x, but the host ran 2x slower -> normalized 1.2x, no breach
    new = {"corpus_id": "c1", "queries": {"q": 2.4}, "host": {"calib_sec": 2.0}}
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(ref))
    b.write_text(json.dumps(new))
    tool = os.path.join(HERE, "tools", "compare_bench.py")
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b)], capture_output=True, text=True
    )
    assert r.returncode == 1 and "2x BREACH" in r.stdout  # raw judges 2.4x
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b), "--normalize"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0 and "BREACH" not in r.stdout  # normalized 1.2x
    # corpus mismatch refuses without --force
    c = tmp_path / "c.json"
    c.write_text(json.dumps({**new, "corpus_id": "c2"}))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(c)], capture_output=True, text=True
    )
    assert r.returncode == 2 and "corpus mismatch" in r.stdout


def test_compare_bench_unwraps_driver_artifact(tmp_path):
    """Driver-recorded BENCH_r*.json wraps the bench line under 'parsed'
    — compare_bench must unwrap it so rounds compare directly."""
    tool = os.path.join(HERE, "tools", "compare_bench.py")
    inner = {
        "corpus_id": "c1",
        "queries": {"q": 1.0},
        "host": {"calib_sec": 1.0},
    }
    wrapped = {"n": 8, "rc": 0, "tail": "...", "parsed": inner}
    plain = {"corpus_id": "c1", "queries": {"q": 1.2}, "host": {"calib_sec": 1.0}}
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(wrapped))
    b.write_text(json.dumps(plain))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b)], capture_output=True, text=True
    )
    assert r.returncode == 0 and "1.20" in r.stdout, r.stdout + r.stderr


def test_compare_bench_flagship_block_and_recipe_guard(tmp_path):
    tool = os.path.join(HERE, "tools", "compare_bench.py")
    ref = json.load(open(os.path.join(HERE, "BASELINE_flagship.json")))
    # NEW = a default bench artifact carrying a flagship SUB-BLOCK
    new = {
        "metric": "headline_total_runtime",
        "corpus_id": "whatever",
        "queries": {},
        "flagship": {
            "queries": {q: v * 1.1 for q, v in ref["queries"].items()},
            "recipe": ref["recipe"],
            "calib_sec": 0.9,
        },
    }
    a, b = tmp_path / "ref.json", tmp_path / "new.json"
    a.write_text(json.dumps(ref))
    b.write_text(json.dumps(new))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b), "--flagship"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "ratio" in r.stdout
    # 2x breach exits 1
    new["flagship"]["queries"] = {q: v * 2.5 for q, v in ref["queries"].items()}
    b.write_text(json.dumps(new))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b), "--flagship"],
        capture_output=True, text=True,
    )
    assert r.returncode == 1 and "2x BREACH" in r.stdout
    # recipe mismatch refuses without --force
    new["flagship"]["recipe"] = "make_scale_data.py N=3"
    b.write_text(json.dumps(new))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b), "--flagship"],
        capture_output=True, text=True,
    )
    assert r.returncode == 2 and "recipe mismatch" in r.stdout
    # a skipped flagship block is reported, exit 2
    new["flagship"] = {"skipped": "replica corpus missing"}
    b.write_text(json.dumps(new))
    r = subprocess.run(
        [sys.executable, tool, str(a), str(b), "--flagship"],
        capture_output=True, text=True,
    )
    assert r.returncode == 2 and "no flagship block" in r.stdout


# -------------------------------------------- bench.py flagship block

def test_flagship_block_skips_cleanly_without_replica(monkeypatch):
    import bench

    monkeypatch.setattr(bench, "FLAGSHIP_SF_DIR", "/nonexistent/scale_sf1")
    blk = bench._flagship_block()
    assert "skipped" in blk and "make_scale_data" in blk["skipped"]


def test_flagship_block_degrades_on_worker_failure(monkeypatch, tmp_path):
    """A flagship worker failure degrades the sub-block to skipped-with-
    reason instead of sinking the headline artifact the driver records."""
    import bench

    monkeypatch.setattr(bench, "FLAGSHIP_SF_DIR", str(tmp_path))  # exists
    def boom(sf_dir, flagship):
        raise SystemExit("bench worker failed rc=1")
    monkeypatch.setattr(bench, "_collect_passes", boom)
    blk = bench._flagship_block()
    assert "skipped" in blk and "failed" in blk["skipped"]


def test_flagship_protocol_string_names_actual_tier():
    """r8 ADVICE low: the --flagship protocol suffix must describe the
    tier actually run (~sf1 replica), not the rejected sf0.3 trial."""
    src = open(os.path.join(HERE, "bench.py")).read()
    assert "flagship tier at ~sf0.3" not in src
    assert "~sf1 (10x replica" in src


# --------------------------------------------- make_bench_corpus seed

def test_bench_corpus_seed_is_process_stable():
    """r7 ADVICE (medium): the per-table permutation offset must not
    depend on the salted str hash — pin the crc32-derived constants so
    the corpus B instance is regenerable from any interpreter."""
    import zlib

    import make_bench_corpus as mbc

    assert mbc.SEED == 20250816
    assert zlib.crc32(b"documents") % 1000 == 648
    assert zlib.crc32(b"embeddings") % 1000 == 345
    src = open(os.path.join(HERE, "tools", "make_bench_corpus.py")).read()
    # the salted form must never return as CODE (docstring mentions it)
    assert "SEED + hash(" not in src
    assert "SEED + zlib.crc32(name.encode()) % 1000" in src
